"""The benchmark's workloads: inputs made from a seed, one operation, and
the check of the program's outputs.

Each workload is a closed loop with one client: the benchmark issues the
next operation after the previous one has committed. See README.md for
each workload's input domain and why it was chosen.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic
from openslack_crawler_spark.functions.url import with_url_columns
from openslack_crawler_spark.oracle import CrawlOracle
from openslack_crawler_spark.plans import round_job as rj
from openslack_crawler_spark.sources.table_format import make_table_format
from openslack_crawler_spark.streaming.ingest import (
    build_request_source,
    enqueue_batch,
    parse_requests,
)

import procs


class Workload:
    """One store, driven one operation at a time."""

    warmup_ops = 1
    min_ops = 2  # timed operations in every run
    op_span = "round_job"

    def __init__(self, spark, seed: int, scratch: str):
        self.spark = spark
        self.seed = seed
        self.root = os.path.join(scratch, "store")
        self.scratch = scratch
        self.fmt = None
        self.n_ops = 0           # operations committed, warm-up included
        self.snaps: list[int] = []      # snapshot id after each operation
        self.next_seq: list[int] = []   # meta next_seq after each operation
        self.store_bytes: list[int] = []

    def setup(self) -> None:
        """Make the inputs (lazily, where the program takes DataFrames)."""

    def prepare(self) -> None:
        """Client-side work before the next operation (not timed)."""

    def op(self) -> None:
        raise NotImplementedError

    def after_op(self) -> None:
        self.n_ops += 1
        self.snaps.append(self.fmt.current_snapshot_id())
        self.next_seq.append(int(self.fmt.meta()["next_seq"]))
        self.store_bytes.append(procs.dir_bytes(self.root))

    def work(self, ops: list[int]) -> int:
        """URLs processed by the given operations (numerator of urls_per_cpu_s)."""
        raise NotImplementedError

    def check(self) -> tuple[list[bool], list[str]]:
        """Per-operation verdicts, and messages for every failed check."""
        raise NotImplementedError

    def layer_counts(self, ops: list[int]) -> dict[str, float]:
        """Counts read back from the committed snapshots, summed over ops."""
        raise NotImplementedError

    def seen_rows(self, op: int) -> int:
        return self.fmt.read("seen", snapshot_id=self.snaps[op]).count()


class CrawlSteady(Workload):
    """20 k Zipf seeds over 200 hosts, one run_crawl round per operation."""

    N_SEEDS, N_HOSTS, K_PER_HOST, MAXDEPTH, FAILURE_MOD = 20_000, 200, 8, 2, 50

    def setup(self) -> None:
        # seeds are clean URLs: run_round's page-id parse fails on URLs
        # with a query string under ANSI mode, so messy forms are
        # exercised by ingest_hot instead
        self.seeds = synthetic.gen_seeds(
            self.spark, self.N_SEEDS, n_hosts=self.N_HOSTS, seed=self.seed
        )
        self.robots = synthetic.gen_robots(self.spark, self.N_HOSTS, seed=self.seed)
        self.cfg = rj.CrawlConfig(
            n_hosts=self.N_HOSTS, k_per_host=self.K_PER_HOST,
            maxdepth=self.MAXDEPTH, failure_mod=self.FAILURE_MOD,
        )

    def op(self) -> None:
        # one round per call; resume=True takes the path a restarted
        # crawler takes, and run_crawl's 16-round compaction stays live
        self.fmt = rj.run_crawl(
            self.spark, self.root, self.seeds, self.robots, self.cfg,
            rounds=self.n_ops + 1, resume=True,
        )

    def _fetch_log(self) -> list[tuple]:
        if not hasattr(self, "_log"):
            self._log = [
                (r.round_id, r.url, r.fetch_at)
                for r in rj.crawl_order(self.fmt).select("round_id", "url", "fetch_at").collect()
            ]
        return self._log

    def work(self, ops: list[int]) -> int:
        rounds = {i + 1 for i in ops}
        return sum(1 for r, _, _ in self._fetch_log() if r in rounds)

    def _oracle(self) -> CrawlOracle:
        o = CrawlOracle(
            {
                r.host: {"crawl_delay": r.crawl_delay, "max_parallel": r.max_parallel,
                         "disallow": list(r.disallow)}
                for r in self.robots.collect()
            },
            n_hosts=self.N_HOSTS, k_per_host=self.K_PER_HOST, maxdepth=self.MAXDEPTH,
            failure_mod=self.FAILURE_MOD, retry_max=self.cfg.retry_max,
        )
        seeds = self.seeds.select("url", "priority", "enqueue_seq").toPandas()
        o.bootstrap(list(seeds.itertuples(index=False, name=None)))
        for i in range(1, self.n_ops + 1):
            o.run_round(i)
        return o

    def check(self) -> tuple[list[bool], list[str]]:
        spark, fmt, n = self.spark, self.fmt, self.n_ops
        ok, msgs = [True] * n, []
        o = self._oracle()

        # crawl order, round by round, against the oracle
        log = self._fetch_log()
        for i in range(n):
            mine = [x for x in log if x[0] == i + 1]
            ref = [(e["round"], e["url"], e["fetch_at"]) for e in o.fetch_log if e["round"] == i + 1]
            if mine != ref:
                ok[i] = False
                msgs.append(f"round {i + 1}: crawl order differs from the oracle "
                            f"({len(mine)} vs {len(ref)} fetches)")

        # each round's enqueue_seq values are dense from the previous
        # next_seq, and next_seq = max + 1
        boot = fmt.read("frontier", snapshot_id=0).agg(F.max("enqueue_seq")).first()[0]
        prev = [int(boot) + 1] + self.next_seq[:-1]
        parts = [
            fmt.read("frontier", snapshot_id=self.snaps[i])
            .filter(F.col("enqueue_seq") >= prev[i])
            .select(F.lit(i).alias("op"), "enqueue_seq")
            for i in range(n)
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        got = {
            r.op: r for r in union.groupBy("op").agg(
                F.count("*").alias("n"), F.countDistinct("enqueue_seq").alias("d"),
                F.min("enqueue_seq").alias("lo"), F.max("enqueue_seq").alias("hi"),
            ).collect()
        }
        for i in range(n):
            want = self.next_seq[i] - prev[i]
            r = got.get(i)
            dense = (want == 0 and r is None) or (
                r is not None and r.n == r.d == want and r.lo == prev[i]
                and r.hi + 1 == self.next_seq[i]
            )
            if not dense:
                ok[i] = False
                msgs.append(f"round {i + 1}: enqueue_seq not dense in "
                            f"[{prev[i]}, {self.next_seq[i]})")

        # whole-crawl state: no URL fetched twice (a retried fetch is
        # logged once, when it succeeds), seen set and frontier = oracle
        urls = [u for _, u, _ in log]
        final = []
        if len(urls) != len(set(urls)):
            final.append("a URL was fetched twice")
        # (Arrow transfers: the check's time counts toward the run budget)
        seen = fmt.read("seen").select("url_hash").toPandas()["url_hash"]
        ref_seen = set(
            spark.createDataFrame(pd.DataFrame({"url": list(o.seen)}))
            .select(F.xxhash64("url").alias("h")).toPandas()["h"]
        )
        if not seen.is_unique or set(seen) != ref_seen:
            final.append(f"seen set differs from the oracle ({len(seen)} vs {len(ref_seen)})")
        cols = ("url", "depth", "priority", "retry_times", "enqueue_seq")
        front = set(
            fmt.read("frontier").select(*cols).toPandas().itertuples(index=False, name=None)
        )
        ref_front = {tuple(getattr(r, c) for c in cols) for r in o.frontier}
        if front != ref_front:
            final.append("frontier differs from the oracle")
        if final:
            ok[-1] = False
            msgs.extend(final)
        return ok, msgs

    def layer_counts(self, ops: list[int]) -> dict[str, float]:
        fmt, out = self.fmt, {}
        for i in ops:
            rnd, sid, prev_sid = i + 1, self.snaps[i], self.snaps[i - 1] if i else 0
            # popped = rows that left the frontier; attempted = the
            # round's per-partition dequeued counters
            before = fmt.read("frontier", snapshot_id=prev_sid).select("enqueue_seq")
            after = fmt.read("frontier", snapshot_id=sid).select("enqueue_seq")
            popped = before.join(after, "enqueue_seq", "left_anti").count()
            attempted = (
                fmt.read("counters", snapshot_id=sid)
                .filter((F.col("round_id") == rnd) & (F.col("metric") == "scheduler/dequeued"))
                .agg(F.sum("value")).first()[0] or 0
            )
            # candidate links of the round's expandable pages, recomputed
            # from the committed documents and canonicalized as the round does
            docs = fmt.read("documents", snapshot_id=sid).filter(F.col("fetched_round") == rnd)
            expandable = (
                fmt.read("fetch_log", snapshot_id=sid)
                .filter((F.col("round_id") == rnd) & (F.col("depth") < self.MAXDEPTH))
                .select("url")
            )
            links = (
                docs.join(expandable, "url", "left_semi")
                .select("doc_id", F.explode("spans").alias("s"))
                .filter(F.col("s.kind") == "link")
                .select("doc_id", F.col("s.text").alias("url"))
                .distinct()
            )
            c = with_url_columns(links, "url").agg(
                F.count("*").alias("links"), F.countDistinct("url_hash").alias("uniq")
            ).first()
            new_seen = self.seen_rows(i) - (
                fmt.read("seen", snapshot_id=prev_sid).count()
            )
            n_new = self.next_seq[i] - (self.next_seq[i - 1] if i else 0)
            add = {
                "politeness.robots_dropped": popped - attempted,
                "linkextract.links": c.links,
                "seen_filter.intra_dupes": c.links - c.uniq,
                "seen_filter.seen_hits": c.uniq - new_seen,
                "seen_filter.enqueued": new_seen,
                "seen_filter.candidates": c.links,
                "frontier.rows": after.count(),
                "frontier.new_rows": n_new,
            }
            for k, v in add.items():
                out[k] = out.get(k, 0) + v
        return out


# --------------------------------------------------------------------------
# ingest_hot
# --------------------------------------------------------------------------

_M = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic intended)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _u01(seed: int, ids: np.ndarray, salt: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        key = ids.astype(np.uint64) * np.uint64(8) + np.uint64(salt)
        return _mix(_mix(key) ^ np.uint64(seed)).astype(np.float64) / 2.0**64


class IngestHot(Workload):
    """Micro-batches of JSON requests through parse_requests + enqueue_batch."""

    BATCH, N_HOSTS = 10_000, 2_000
    HOT_FRAC, REDELIVER_FRAC, MESSY_FRAC, REJECT_FRAC = 0.10, 0.10, 0.30, 0.01
    HOT_URL = "http://hot.example/p/0"
    warmup_ops = 3
    min_ops = 3
    op_span = "ingest"

    def setup(self) -> None:
        self.req_dir = os.path.join(self.scratch, "requests")
        self.fmt = make_table_format(self.root, self.spark)
        self.batches: list[dict] = []

    def _make_batch(self, b: int) -> dict:
        """Batch b's JSON lines, and the canonical URL each valid row must
        become (computed independently of the program's canonicalizer)."""
        n, seed = self.BATCH, self.seed
        g = np.arange(b * n, (b + 1) * n, dtype=np.int64)
        kind = _u01(seed, g, 1)
        # re-deliveries point at a page of an earlier batch (of an
        # earlier row, in the first batch)
        horizon = np.maximum(b * n if b else g, 1)
        earlier = (_mix(g.astype(np.uint64) ^ np.uint64(seed * 7919 + 5)) % horizon.astype(np.uint64)).astype(np.int64)
        page = np.where(kind < self.HOT_FRAC + self.REDELIVER_FRAC, earlier, g)
        host = (_mix(page.astype(np.uint64) ^ np.uint64(seed)) % np.uint64(self.N_HOSTS)).astype(np.int64) + 1
        form = _u01(seed, g, 2)
        rejected = _u01(seed, g, 3) < self.REJECT_FRAC
        lines, canon = [], []
        for i in range(n):
            if kind[i] < self.HOT_FRAC:
                clean, messy = self.HOT_URL, "HTTP://Hot.Example:80/p/0#frag"
            else:
                clean = f"http://host-{host[i]}.example/p/{page[i]}"
                messy = f"HTTP://Host-{host[i]}.Example:80/p/{page[i]}#frag"
                if form[i] < self.MESSY_FRAC / 2:  # half of messy forms carry a query
                    clean += "?a=1&b=2"
                    messy = messy.replace("#frag", "?b=2&a=1#frag")
            url = messy if form[i] < self.MESSY_FRAC else clean
            appid = "null" if rejected[i] else '"app-1"'
            lines.append(
                f'{{"url":"{url}","appid":{appid},"crawlid":"crawl-1",'
                f'"priority":{1 + int(g[i]) % 100},"maxdepth":2}}'
            )
            if not rejected[i]:
                canon.append(clean)
        path = os.path.join(self.req_dir, str(b))
        os.makedirs(path)
        with open(os.path.join(path, "part-0.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        return {"path": path, "canon": canon, "rejected": int(rejected.sum())}

    def prepare(self) -> None:
        if len(self.batches) == self.n_ops:
            self.batches.append(self._make_batch(self.n_ops))

    def op(self) -> None:
        b = self.n_ops
        raw, _ = build_request_source(
            self.spark, incoming_dir=self.batches[b]["path"], streaming=False
        )
        enqueue_batch(self.fmt, parse_requests(raw), b)

    def work(self, ops: list[int]) -> int:
        return sum(len(self.batches[i]["canon"]) + self.batches[i]["rejected"] for i in ops)

    def _expected_new(self) -> list[int]:
        seen, out = set(), []
        for b in self.batches[: self.n_ops]:
            fresh = set(b["canon"]) - seen
            out.append(len(fresh))
            seen |= fresh
        self._expected = seen
        return out

    def check(self) -> tuple[list[bool], list[str]]:
        n, msgs = self.n_ops, []
        expected_new = self._expected_new()
        ok = [True] * n
        for i in range(n):
            got = self.next_seq[i] - (self.next_seq[i - 1] if i else 0)
            if got != expected_new[i]:
                ok[i] = False
                msgs.append(f"batch {i}: enqueued {got} requests, expected {expected_new[i]}")
        front = self.fmt.read("frontier").select("url", "enqueue_seq").toPandas()
        urls, seqs = front["url"], np.sort(front["enqueue_seq"].to_numpy())
        final = []
        if urls.nunique() != len(urls) or set(urls) != self._expected:
            final.append(f"frontier holds {len(urls)} rows / {urls.nunique()} URLs; "
                         f"expected one row per accepted canonical URL ({len(self._expected)})")
        if int((urls == self.HOT_URL).sum()) != 1:
            final.append("the hot URL is not in the frontier exactly once")
        if not np.array_equal(seqs, np.arange(len(seqs))) or self.next_seq[-1] != len(seqs):
            final.append("enqueue_seq is not dense from 0 with next_seq = max + 1")
        if final:
            ok[-1] = False
            msgs.extend(final)
        return ok, msgs

    def layer_counts(self, ops: list[int]) -> dict[str, float]:
        out = {}
        for i in ops:
            b = self.batches[i]
            valid, uniq = len(b["canon"]), len(set(b["canon"]))
            n_new = self.next_seq[i] - (self.next_seq[i - 1] if i else 0)
            add = {
                "ingest.rejected": b["rejected"],
                "seen_filter.intra_dupes": valid - uniq,
                "seen_filter.seen_hits": uniq - n_new,
                "seen_filter.enqueued": n_new,
                "seen_filter.candidates": valid,
                "frontier.rows": self.next_seq[i],
                "frontier.new_rows": n_new,
            }
            for k, v in add.items():
                out[k] = out.get(k, 0) + v
        return out


WORKLOADS = {"crawl_steady": CrawlSteady, "ingest_hot": IngestHot}
