"""Pure-Python parity oracle: the reference's scheduling semantics,
record-at-a-time (SURVEY.md §5.2).

Replays the sequential semantics of the Redis/Scrapy scheduler —
priority-zset pop (queue.py:98-109), check-and-insert dedup
(dupefilter.py:39-44), per-host politeness budget (settings2.py:14-19),
depth/priority decay (link_spider.py:50-89) — on the SAME deterministic
page graph as the Spark engine (synthetic.py), under the same
round-based virtual clock. pytest asserts crawl-ordering equality,
URL-seen set equality (north_rule), and span-sequence equality
(input_hint) between this oracle and the Spark round job.

This file intentionally shares `_canonicalize_one`, `py_page_id`,
`py_outlinks` and `py_spans` with the engine: the oracle differs ONLY
in execution strategy (sequential loop vs DataFrame job), which is
exactly what the parity test is meant to pin down.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .functions.url import _canonicalize_one
from .synthetic import py_outlinks, py_page_id, py_spans

DEFAULT_CRAWL_DELAY = 1.0
DEFAULT_MAX_PARALLEL = 8
DEPTH_DECAY = 10


@dataclass
class OracleRequest:
    url: str
    host: str
    depth: int
    maxdepth: int
    priority: int
    enqueue_seq: int
    retry_times: int = 0
    score: float = field(init=False)

    def __post_init__(self):
        self.score = float(self.priority)


def _host_of(url: str) -> str:
    rest = url.split("://", 1)[1]
    return rest.split("/", 1)[0].split(":")[0].lower()


def _path_of(url: str) -> str:
    rest = url.split("://", 1)[1]
    return "/" + rest.split("/", 1)[1] if "/" in rest else "/"


class CrawlOracle:
    """Sequential crawl simulation. One instance = one crawl."""

    def __init__(self, robots: dict[str, dict], n_hosts: int, k_per_host: int,
                 maxdepth: int, failure_mod: int = 0, retry_max: int = 3):
        self.robots = robots  # host -> {crawl_delay, max_parallel, disallow}
        self.n_hosts = n_hosts
        self.k = k_per_host
        self.maxdepth = maxdepth
        self.failure_mod = failure_mod  # (page + retry*7919) % mod == 3 fails
        self.retry_max = retry_max
        self.frontier: list[OracleRequest] = []
        self.seen: set[str] = set()
        self.next_seq = 0
        self.fetch_log: list[dict] = []  # crawl ordering
        self.documents: dict[str, list[tuple]] = {}  # url -> spans

    def bootstrap(self, seeds: list[tuple[str, int, int]]):
        """seeds: (raw_url, priority, enqueue_seq) in submit order —
        sequential SADD: first canonical occurrence wins."""
        for raw, priority, seq in sorted(seeds, key=lambda s: s[2]):
            url = _canonicalize_one(raw, None)
            if url in self.seen:
                continue
            self.seen.add(url)
            self.frontier.append(
                OracleRequest(url, _host_of(url), 0, self.maxdepth, priority, seq)
            )
            self.next_seq = max(self.next_seq, seq + 1)

    # -- one scheduling round -------------------------------------------
    def run_round(self, round_id: int) -> int:
        pop_order = lambda r: (-r.score, r.enqueue_seq)

        # per-host top-k dequeue
        by_host: dict[str, list[OracleRequest]] = {}
        for r in self.frontier:
            by_host.setdefault(r.host, []).append(r)
        batch: list[OracleRequest] = []
        for host, rs in by_host.items():
            rs.sort(key=pop_order)
            batch.extend(rs[: self.k])
        batch_ids = {id(r) for r in batch}
        self.frontier = [r for r in self.frontier if id(r) not in batch_ids]

        # robots filter + politeness virtual clock
        fetched: list[tuple[OracleRequest, float]] = []
        for host, rs in by_host.items():
            rb = self.robots.get(host, {})
            delay = rb.get("crawl_delay", DEFAULT_CRAWL_DELAY)
            cap = rb.get("max_parallel", DEFAULT_MAX_PARALLEL)
            disallow = rb.get("disallow", [])
            survivors = [
                r
                for r in rs[: self.k]
                if not any(_path_of(r.url).startswith(p) for p in disallow)
            ]
            survivors.sort(key=pop_order)
            for i, r in enumerate(survivors):
                fetched.append((r, (i // cap) * delay))

        # fetch failure split (ST6): failed attempts consumed their
        # politeness slot but are not crawled
        def fails(r: OracleRequest) -> bool:
            if not self.failure_mod:
                return False
            p = py_page_id(r.url)
            return (p + r.retry_times * 7919) % self.failure_mod == 3

        failed = [r for r, _ in fetched if fails(r)]
        ok = [(r, at) for r, at in fetched if not fails(r)]

        # deterministic fetch order: (fetch_at, score desc, seq)
        ok.sort(key=lambda t: (t[1], -t[0].score, t[0].enqueue_seq))
        for r, at in ok:
            self.fetch_log.append(
                {"round": round_id, "url": r.url, "fetch_at": at,
                 "score": r.score, "seq": r.enqueue_seq, "depth": r.depth}
            )
            self.documents[r.url] = py_spans(r.url, self.n_hosts)

        # expansion in pop order (score desc, seq asc), links in offset order
        expandable = sorted(
            (r for r, _ in ok if r.depth < r.maxdepth), key=pop_order
        )
        for r in expandable:
            page_seen: set[str] = set()
            for raw in py_outlinks(r.url, self.n_hosts):
                if raw in page_seen:  # unique_list per page
                    continue
                page_seen.add(raw)
                url = _canonicalize_one(raw, None)
                if r.depth + 1 > r.maxdepth:
                    continue
                if url in self.seen:  # check-and-insert
                    continue
                self.seen.add(url)
                self.frontier.append(
                    OracleRequest(
                        url, _host_of(url), r.depth + 1, r.maxdepth,
                        r.priority - DEPTH_DECAY, self.next_seq,
                    )
                )
                self.next_seq += 1

        # retry re-enqueue AFTER this round's children, in pop order of
        # the failed originals: priority-10, retry+1 (redis_retry.py:9-22)
        for r in sorted(failed, key=pop_order):
            if r.retry_times >= self.retry_max:
                continue
            self.frontier.append(
                OracleRequest(
                    r.url, r.host, r.depth, r.maxdepth,
                    r.priority - DEPTH_DECAY, self.next_seq,
                    retry_times=r.retry_times + 1,
                )
            )
            self.next_seq += 1
        return len(fetched)

    def run(self, rounds: int):
        for i in range(1, rounds + 1):
            if self.run_round(i) == 0:
                break
        return self
