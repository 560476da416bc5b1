"""The scheduling round job — the flagship plan (SURVEY.md §3.1).

One crawl round is ONE pipeline committed as ONE snapshot:

  frontier dequeue (per-host top-k, one window)        [S4/W1, O4]
   → one robots join: verdict + politeness slots        [W2]
   ── cut A: the dequeued rows (fetch count observed on its job)
   → simulated fetch → documents with interleaved spans [P5]
   → link extraction, deduped inside each page's row    [P1/C20]
   → link predicates                                    [P2, F6-F8]
   → candidate build (depth+1, priority-10)             [W4]
   → intra-round first-wins dedup                       [F1]
   → seen anti-join (exact; bloom prefilter optional)   [J1/F3]
   → enqueue filters (expiry, blacklist) as a mark      [F4/F5]
   → dense enqueue_seq over children + retries, one pass  [§7 step 4]
   ── cut B: its range cut; the appends (incl. dropped children) are
      ranked inside cut B's partitions, and each write re-reads cut B
   → frontier append + delete delta, seen/counters/fetch_log/documents
     appends, in one commit                              [S5, A1]

These are the round's only lineage cuts. Every table write is a delta:
the dequeued rows leave the frontier as (url_hash, enqueue_seq) rows of
`frontier_deletes`, which reads anti-join away, so a commit writes
O(round) bytes whatever the frontier's size; run_crawl's 16-round
compaction folds the deletes back in. An empty round ends in the same
commit, with empty deltas; run_crawl stops after it.

This replaces the reference's record-at-a-time Twisted loop
(/root/reference/crawler/schedulers/kafka/scheduler.py:124-190 +
examples/link_spider.py:24-89): scheduling decisions become
set-oriented, which is the entire scale win (reference pacing is ≥1
decision/sec/consumer — scheduler.py:132-138).

Fetching is simulated against the deterministic page graph
(synthetic.py) — the sandbox has no network; the fetch stage is the
seam where a real downloader (an async HTTP pandas-UDF over
mapInPandas) would plug in.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import synthetic
from ..operators import frontier as fr
from ..operators import politeness as po
from ..operators.linkextract import (
    apply_link_predicates,
    extract_link_spans,
    links_to_candidates,
)
from ..operators.components import ckpt_auto
from ..operators.seen_filter import (
    PartitionedBloom,
    filter_unseen,
    first_wins_dedup,
)
from ..sources.table_format import SnapshotParquetFormat, deletes_of
from ..functions.url import with_url_columns
from ..schemas import FRONTIER_SCHEMA


def fetch_order():
    """Deterministic total order of fetches within a round."""
    return [
        F.col("fetch_at").asc(),
        F.col("score").desc(),
        F.col("enqueue_seq").asc(),
    ]


@dataclass
class CrawlConfig:
    n_hosts: int = 100
    k_per_host: int = 8          # per-host batch budget per round
    maxdepth: int = 2            # scraper_schema.json:22-26 caps at 3
    # URL-seen path: False = exact anti-join (the measured winner at
    # every scannable operating point — see the calibration note in
    # operators/seen_filter.py), True = maintain + use the bloom
    # prefilter (only for deployments whose seen side is not scannable
    # at join time)
    use_bloom: bool = False
    deny_extensions: list | None = None
    allowed_domains: list | None = None
    allow_regex: str | None = None
    deny_regex: str | None = None
    # simulated fetch failures (ST6): a fetch of page p at retry r fails
    # when (p + r*7919) % failure_mod == 3; 0 disables. Failed requests
    # re-enqueue with priority-10, retry_times+1, dont_filter=True
    # (redis_retry.py:9-22) until retry_max (RETRY_TIMES settings.py:166)
    failure_mod: int = 0
    retry_max: int = 3


def spans_expr(url_col, n_hosts: int):
    """Interleaved text+media spans of a fetched page — Spark twin of
    synthetic.py_spans (the span-sequence-equality invariant)."""
    p = synthetic.page_id_of(url_col)
    h = synthetic.host_id_of(url_col)
    links = synthetic.outlink_exprs(p, h, n_hosts)
    text_span = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.concat(F.lit("page "), p.cast("string"), F.lit(" text")).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    link_spans = F.transform(
        links,
        lambda l: F.struct(
            F.lit("link").alias("kind"),
            l["url"].alias("text"),
            F.lit("").alias("media_ref"),
            l["offset"].alias("offset"),
        ),
    )
    img_span = F.when(
        p % 3 == 0,
        F.array(
            F.struct(
                F.lit("image").alias("kind"),
                F.lit("").alias("text"),
                F.concat(F.lit("img-"), p.cast("string")).alias("media_ref"),
                (F.size(links) + 1).cast("int").alias("offset"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
    return F.concat(text_span, link_spans, img_span)


def append_key(retry: int, score, seq, offset):
    """Order in which a round's frontier appends take enqueue_seq:
    children (retry 0) before retries (retry 1), each in the pop order
    of the row it comes from — score desc, then seq, then the link's
    offset in its page. Named fields, so both sides of a union match."""
    return F.struct(
        F.lit(retry).alias("retry"),
        (-score).alias("neg_score"),
        seq.alias("seq"),
        offset.alias("offset"),
    )


# Per-round values stay literals, measured: Spark inlines primitive
# literals into generated code, so `F.lit(round_id)` here and in the
# round's fetch_log and documents projections, and the enqueue filters'
# `current_timestamp()` (frontier.mark_enqueue_filters), cost 7 whole-
# stage recompiles per round (~0.1 s): 2 counters, 2 fetch_log, 1
# documents, 2 fingerprint-stage classes. Binding them as data through a
# broadcast VALUES cross join removed those recompiles, but took the
# round from 22 to 27 Spark jobs with no CPU gain.
def _partition_counts(inputs: dict[str, DataFrame], round_id: int) -> DataFrame:
    """Per-partition lineage counters (north_rule, stats.py:46-55) in one
    aggregate: each input, keyed by metric, tags its own partition ids."""
    tagged = [
        df.select(F.spark_partition_id().alias("partition_id"), F.lit(m).alias("metric"))
        for m, df in inputs.items()
    ]
    return (
        reduce(DataFrame.unionByName, tagged)
        .groupBy("partition_id", "metric")
        .agg(F.count(F.lit(1)).cast("long").alias("value"))
        .select(F.lit(round_id).alias("round_id"), "partition_id", "metric", "value")
    )


def bootstrap(
    fmt: SnapshotParquetFormat,
    seeds: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
) -> int:
    """Round 0: seeds → canonicalize/hash → first-wins dedup → frontier;
    seed hashes become the initial seen set (the reference fingerprints
    every enqueued request, dupefilter.py:39-44)."""
    c = with_url_columns(seeds, "url", canonicalize=True)
    c = (
        c.withColumn("depth", F.lit(0))
        .withColumn("maxdepth", F.lit(cfg.maxdepth))
        .withColumn("spiderid", F.lit("link"))
        .withColumn("retry_times", F.lit(0))
        .withColumn("expires", F.lit(None).cast("timestamp"))
        .withColumn("dont_filter", F.lit(False))
        .withColumn("score", fr.score_expr())
        .withColumn("attrs", F.create_map().cast("map<string,string>"))
    )
    # seeds keep their own enqueue_seq (the oracle pops by it)
    frontier0 = fr.as_frontier_rows(first_wins_dedup(c, "enqueue_seq"))
    seen0 = fr.seen_rows(frontier0)
    next_seq = (frontier0.agg(F.max("enqueue_seq")).collect()[0][0] or 0) + 1
    updates = {"frontier": frontier0, "seen": seen0, "robots": robots}
    if cfg.use_bloom:
        bloom = PartitionedBloom()
        updates["bloom"] = bloom.build(seen0)
    return fmt.commit(updates, meta={"round": 0, "next_seq": int(next_seq)})


def run_round(fmt: SnapshotParquetFormat, cfg: CrawlConfig) -> dict:
    """Execute one scheduling round against the current snapshot and
    commit the next snapshot. Returns round stats."""
    meta = fmt.meta()
    round_id = meta["round"] + 1
    next_seq = meta["next_seq"]

    frontier = fmt.read("frontier")
    seen = fmt.read("seen")
    robots = fmt.read("robots")
    blacklist = fmt.read("blacklist")
    bloom = fmt.read("bloom") if cfg.use_bloom else None

    # 1-2. dequeue per-host top-k (one window), the robots verdict and
    # politeness slots over the allowed rows from one robots join, then
    # cut A with its fetch count observed on its job. Popped rows leave
    # the frontier even when robots disallows them (consumed, not
    # requeued: scrapy RobotsTxtMiddleware semantics, settings.py:138), so
    # step 9 deletes the whole cut from the frontier and the fetch reads
    # its allowed rows
    popped = fr.dequeue_top_k_per_host(frontier, cfg.k_per_host)
    marked = po.assign_fetch_slots(popped, robots)
    observed = Observation("dequeued")
    dequeued = ckpt_auto(
        marked.observe(observed, F.count_if(F.col("_allowed")).alias("allowed"))
    )
    batch = dequeued.filter(F.col("_allowed")).drop("_allowed")
    n_fetched = observed.get["allowed"]

    # 3. simulated fetch → spans. Failed attempts (ST6) consumed their
    # politeness slot but yield no document and no expansion; they
    # re-enqueue in step 8 with decayed priority. failure_mod 0 folds to a
    # False literal, and Catalyst prunes the empty retry branch.
    if cfg.failure_mod:
        pid = synthetic.page_id_of(F.col("url"))
        fail_cond = (
            F.pmod(pid + F.col("retry_times") * 7919, F.lit(cfg.failure_mod)) == 3
        )
    else:
        fail_cond = F.lit(False)
    fetched = batch.filter(~fail_cond).withColumns({
        "spans": spans_expr(F.col("url"), cfg.n_hosts),
        "doc_id": F.concat(F.lit("doc-"), F.col("url_hash").cast("string")),
    })

    # round_id stays an inlined literal here and in fetch_log (see the
    # note above _partition_counts)
    documents = fetched.select(
        "doc_id", "url", "url_hash", "crawlid",
        F.lit(round_id).alias("fetched_round"), "spans",
    )

    # 4. fetch log — the crawl-ordering record (parity artifact)
    fetch_log = fetched.select(
        F.lit(round_id).alias("round_id"), "url", "url_hash", "host",
        "score", "enqueue_seq", "fetch_at", "fetch_rank", "depth",
    )

    # 5. link extraction from pages still allowed to expand (F6)
    expandable = fetched.filter(F.col("depth") < F.col("maxdepth")).select(
        "doc_id",
        F.col("depth").alias("parent_depth"),
        "maxdepth",
        F.col("priority").alias("parent_priority"),
        "appid", "crawlid", "spiderid", "expires", "attrs",
        F.col("score").alias("parent_score"),
        F.col("enqueue_seq").alias("parent_seq"),
        "spans",
    )
    links = apply_link_predicates(
        extract_link_spans(expandable),
        allowed_domains=cfg.allowed_domains,
        allow_regex=cfg.allow_regex,
        deny_regex=cfg.deny_regex,
        deny_extensions=cfg.deny_extensions,
    )
    # depth guard happens at extraction time in the reference
    # (link_spider.py:50-56) — BEFORE fingerprinting
    cands = links_to_candidates(links).filter(F.col("depth") <= F.col("maxdepth"))

    # 6. dedup FIRST (reference order: the dupefilter is check-AND-insert
    # and runs before blacklist/expiry — scheduler.py:87-103 — so even
    # candidates later dropped by those filters enter the seen set):
    # intra-round first-wins in pop order, then exact anti-join. The pop
    # order is a total order (parent_seq is row-unique, anchor_offset
    # unique within a page), so dedup and sequencing key on it directly
    child_key = append_key(
        0, F.col("parent_score"), F.col("parent_seq"), F.col("anchor_offset")
    )
    cands = first_wins_dedup(cands, child_key)
    if bloom is not None:
        fingerprinted = PartitionedBloom().prefiltered_unseen(cands, seen, bloom)
    else:
        fingerprinted = filter_unseen(cands, seen)

    # 7. enqueue filters (blacklist, expiry) — reference order, applied
    # AFTER fingerprinting; marked, not filtered: drops stay in seen
    flagged = fr.mark_enqueue_filters(fingerprinted, blacklist)

    # 8. one dense enqueue_seq pass continuing the global sequence, over
    # the flagged children and the retry re-enqueues (ST6/W3): failed
    # fetches with budget left go back with priority-10, retry_times+1,
    # dont_filter=True, sequenced AFTER the children in pop order (the
    # parity oracle applies the same rule). Joining here, after step 6,
    # is how they skip the dupefilter (scheduler.py:73). Only _enqueue_ok rows take a
    # seq; dropped children ride along to the seen table through cut B
    # (the range cut), which every write of step 9 re-reads
    carried = [c for c in FRONTIER_SCHEMA.fieldNames() if c != "enqueue_seq"]
    retries = fr.decay_for_retry(
        batch.filter(fail_cond & (F.col("retry_times") < cfg.retry_max))
    ).withColumn("_enqueue_ok", F.lit(True))
    retry_key = append_key(1, F.col("score"), F.col("enqueue_seq"), F.lit(0))
    joining = flagged.select(
        *carried, child_key.alias("_key"), "_enqueue_ok"
    ).unionByName(retries.select(*carried, retry_key.alias("_key"), "_enqueue_ok"))
    appended, n_enqueued = fr.frontier_appends(
        joining, [F.col("_key").asc()], next_seq, where="_enqueue_ok"
    )
    new_rows = appended.filter(F.col("enqueue_seq").isNotNull())
    # seen gets EVERY fingerprinted candidate (dupefilter.py check-and-
    # insert), accepted ones with their enqueue_seq as added_seq (it
    # orders fingerprint-TTL expiry); retries (dont_filter) never enter
    new_seen = fr.seen_rows(appended)

    # 9. frontier delta + seen append + counters (one aggregate), one
    # atomic commit; each write re-ranks the appends off cut B. Every
    # write is an append — O(round) write work, never O(frontier) or
    # O(history). The dequeued rows leave the frontier as equality deletes
    # (the zremrangebyrank half of the atomic pop, queue.py:98-109), keyed
    # on the row identity: a failed fetch re-enters in this same commit
    # with its url_hash and a new enqueue_seq, and must survive the delete
    counters = _partition_counts(
        {"scheduler/dequeued": batch, "scheduler/enqueued": new_rows}, round_id
    )
    updates = {}
    appends = {
        "frontier": new_rows,
        "seen": new_seen,
        "counters": counters,
        "fetch_log": fetch_log,
        "documents": documents,
        deletes_of("frontier"): dequeued.select("url_hash", "enqueue_seq"),
    }
    if bloom is not None:
        updates["bloom"] = PartitionedBloom().merge(bloom, new_seen)
    fmt.commit(
        updates,
        appends=appends,
        meta={"round": round_id, "next_seq": int(next_seq + n_enqueued)},
    )
    return {"round": round_id, "fetched": n_fetched, "enqueued": n_enqueued}


def run_crawl(
    spark: SparkSession,
    root: str,
    seeds: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    rounds: int,
    resume: bool = False,
) -> SnapshotParquetFormat:
    """Bootstrap (unless resuming) + N rounds. A killed run resumes from
    the last committed snapshot with no duplicated or lost work (ST5).
    The table format is resolved through the seam: IcebergFormat when a
    `crawler` catalog is configured (cluster), else the parquet twin."""
    from ..sources.table_format import make_table_format

    fmt = make_table_format(root, spark)
    if not resume or fmt.current_snapshot_id() is None:
        bootstrap(fmt, seeds, robots, cfg)
    done_rounds = fmt.meta()["round"]
    for i in range(done_rounds, rounds):
        stats = run_round(fmt, cfg)
        if stats["fetched"] == 0:
            break
        # fold the seen and frontier delta lists (and the frontier's
        # deletes) periodically so reads don't accumulate unbounded file
        # lists (Iceberg rewrite_data_files)
        if (i + 1) % 16 == 0:
            fmt.compact("seen")
            fmt.compact("frontier")
    return fmt


def crawl_order(fmt: SnapshotParquetFormat) -> DataFrame:
    """The crawl ordering (north_rule parity artifact): fetches in
    (round, fetch_at, score desc, enqueue_seq) order."""
    log = fmt.read("fetch_log")
    return log.orderBy(F.col("round_id").asc(), *fetch_order())
