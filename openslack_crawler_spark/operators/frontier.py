"""Frontier priority-queue semantics: enqueue filters, scoring, per-host
top-k dequeue.

Reference semantics:
- enqueue pipeline order: dupe → blacklist → expiry → push
  (/root/reference/crawler/schedulers/kafka/scheduler.py:87-103).
- zset push score = -priority, pop = highest priority first
  (/root/reference/crawler/schedulers/redis/queue.py:92-109). Redis
  breaks score ties lexicographically by pickled blob (arbitrary);
  the rebuild's documented tiebreak is (score desc, enqueue_seq asc)
  — the parity oracle follows the same rule (SURVEY.md §7 step 4).
- priority decay: -10 per retry (/root/reference/crawler/middlewares/
  redis_retry.py:20), -10 per depth (/root/reference/examples/
  link_spider.py:81).
- depth guard (link_spider.py:50-56), expiry (scheduler.py:98-103),
  blacklist (scheduler.py:76-85).

Scale design (SURVEY.md §4 O4): the dequeue shuffles on host_hash, and
a Zipf host distribution makes that skewed. The per-host
`row_number() <= k` window gets a partial WindowGroupLimit below its
shuffle (SPARK-37099): every input partition keeps at most k rows per
host, so a hot host sends ≤ k rows per partition through the exchange,
however large it is. Spark only plans that node for k up to
spark.sql.optimizer.windowGroupLimitThreshold, so a larger k is
refused. AQE skew-join stays on as the safety net.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import FRONTIER_SCHEMA
from . import sequence

DEPTH_DECAY = 10  # link_spider.py:81
RETRY_DECAY = 10  # redis_retry.py:20
WINDOW_GROUP_LIMIT_CONF = "spark.sql.optimizer.windowGroupLimitThreshold"


def dequeue_order():
    """(score desc, enqueue_seq asc) — the documented pop tiebreak."""
    return [F.col("score").desc(), F.col("enqueue_seq").asc()]


def score_expr():
    """Frontier ordering key. Redis stores -priority and pops ascending
    (queue.py:92-109) == descending priority; we keep score==priority
    and sort desc."""
    return F.col("priority").cast("double")


def decay_for_retry(df: DataFrame) -> DataFrame:
    """Retry re-enqueue: priority-10, retry_times+1, dont_filter=True
    (redis_retry.py:9-22)."""
    return (
        df.withColumn("priority", F.col("priority") - RETRY_DECAY)
        .withColumn("retry_times", F.col("retry_times") + 1)
        .withColumn("dont_filter", F.lit(True))
        .withColumn("score", score_expr())
    )


def child_priority(parent_priority):
    """Child request priority = parent - 10 (link_spider.py:81)."""
    return parent_priority - DEPTH_DECAY


def mark_enqueue_filters(
    cands: DataFrame, blacklist: DataFrame | None = None
) -> DataFrame:
    """Depth, expiry and blacklist enqueue filters, in the reference's
    order (scheduler.py:87-103), as a mark instead of a filter: adds the
    boolean `_enqueue_ok`, True for rows that may join the frontier. Lets
    the caller keep dropped fingerprints (they still enter the seen set,
    with NULL added_seq) while accepted rows carry their assigned
    enqueue_seq. The blacklist is tiny, so it joins as a broadcast."""
    # current_timestamp() folds to a literal that Spark inlines into the
    # generated code, so each round recompiles the 2 classes of this
    # stage; binding it as data cost more Spark jobs than the recompiles
    # (measured, see the note above round_job._partition_counts)
    ok = (F.col("depth") <= F.col("maxdepth")) & (
        F.col("expires").isNull() | (F.current_timestamp() < F.col("expires"))
    )
    # NULL depth/maxdepth must yield False, not NULL — a NULL flag would
    # escape BOTH filter(ok) and filter(~ok) downstream, so a caller that
    # splits on it could lose the row's fingerprint and re-crawl the URL.
    ok = F.coalesce(ok, F.lit(False))
    if blacklist is not None:
        bl = F.broadcast(
            blacklist.select("appid", "crawlid").distinct()
            .withColumn("_blacklisted", F.lit(True))
        )
        cands = cands.join(bl, ["appid", "crawlid"], "left")
        ok = ok & F.col("_blacklisted").isNull()
        return cands.withColumn("_enqueue_ok", ok).drop("_blacklisted")
    return cands.withColumn("_enqueue_ok", ok)


def as_frontier_rows(df: DataFrame) -> DataFrame:
    """Project to the frontier columns (FRONTIER_SCHEMA)."""
    return df.select(*FRONTIER_SCHEMA.fieldNames())


def frontier_appends(
    df: DataFrame, order_cols: list, start: int, where: str | None = None
) -> tuple[DataFrame, int]:
    """The one path by which rows join the frontier after bootstrap:
    dense enqueue_seq from `start` in order_cols order, frontier
    columns. Returns (rows, count of rows that took a seq): with
    `where`, only that column's True rows take one, the rest keep a NULL
    enqueue_seq. No cut of their own: each consumer re-reads the eager
    range cut, whose local sort key is row-unique, so every read ranks
    alike. with_dense_seq is looked up at call time, for wrappers."""
    rows, n = sequence.with_dense_seq(
        df, order_cols, start=start, col_name="enqueue_seq", where=where
    )
    return as_frontier_rows(rows), n


def seen_rows(rows: DataFrame) -> DataFrame:
    """Seen-table rows of frontier rows: each fingerprint with the
    enqueue_seq it entered with (NULL if it never joined the frontier).
    dont_filter rows skip the dupefilter entirely in the reference
    (scheduler.py:73), so they never enter."""
    return rows.filter(~F.col("dont_filter")).select(
        "url_hash", "crawlid", F.col("enqueue_seq").alias("added_seq")
    )


def dequeue_top_k_per_host(frontier: DataFrame, k: int) -> DataFrame:
    """Per-host top-k pop (S4/W1): the set-oriented equivalent of N
    zrange(0,0) pops with a per-host batch budget. One window over
    host_hash; its partial WindowGroupLimit bounds what a hot host
    shuffles (see the module docstring). Raises ValueError when k is
    above the threshold up to which Spark plans that node."""
    threshold = int(frontier.sparkSession.conf.get(WINDOW_GROUP_LIMIT_CONF))
    if k > threshold:
        raise ValueError(
            f"k_per_host {k} is above {WINDOW_GROUP_LIMIT_CONF}={threshold}: "
            "the dequeue would shuffle every row of a hot host"
        )
    w = Window.partitionBy("host_hash").orderBy(*dequeue_order())
    return (
        frontier.withColumn("dequeue_rank", F.row_number().over(w))
        .filter(F.col("dequeue_rank") <= k)
    )
