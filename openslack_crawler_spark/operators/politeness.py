"""Per-host politeness: robots filtering + token-bucket fetch-slot
assignment.

Reference semantics:
- per-domain download slot with delay (/root/reference/crawler/
  middlewares/crawlera.py:189-211; DOWNLOAD_DELAY /root/reference/
  crawler/settings2.py:14), per-domain concurrency cap 8
  (settings2.py:18), robots.txt obeyed (/root/reference/crawler/
  settings.py:138 ROBOTSTXT_OBEY).

Spark rebuild (SURVEY.md §2.5 W2): wall-clock pacing becomes a virtual
clock — within a scheduling round, the i-th fetch against a host (rank
by the dequeue order) runs in slot floor(i / max_parallel) and is
stamped fetch_at = slot * crawl_delay (virtual seconds from the round's
start). The parity oracle uses the same virtual clock, making "same
fetch multiset per politeness budget window" checkable.

Robots rules for the whole host space are a small table → broadcast
join; the disallow-prefix test is a JVM-side `exists()` lambda over the
prefix array (no Python). The round's slot assignment joins robots once
and marks the verdict, so disallowed rows stay in its dequeue cut: they
leave the frontier too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.robots import DEFAULT_CRAWL_DELAY, DEFAULT_MAX_PARALLEL
from ..functions.url import path_of
from .frontier import dequeue_order


def _allowed(disallow) -> F.Column:
    """The robots verdict: True where no disallowed prefix of the row's
    host starts its path (a host without robots rules is allowed), False,
    not NULL, when there is no verdict."""
    path = path_of(F.col("url"))
    allowed = disallow.isNull() | ~F.exists(disallow, lambda p: path.startswith(p))
    return F.coalesce(allowed, F.lit(False))


def _join_robots(batch: DataFrame, robots: DataFrame, **cols: str) -> DataFrame:
    """Left broadcast join of robots (one row per host — tiny next to the
    frontier), its columns renamed as the keywords say."""
    r = robots.select(
        F.col("host").alias("_r_host"),
        *(F.col(src).alias(dst) for dst, src in cols.items()),
    )
    return batch.join(F.broadcast(r), batch["host"] == r["_r_host"], "left").drop(
        "_r_host"
    )


def robots_filter(batch: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop URLs whose path starts with a disallowed prefix for their
    host."""
    joined = _join_robots(batch, robots, _r_disallow="disallow")
    return joined.filter(_allowed(F.col("_r_disallow"))).drop("_r_disallow")


def assign_fetch_slots(batch: DataFrame, robots: DataFrame) -> DataFrame:
    """Robots verdict + token-bucket politeness window, from one robots
    join: per-host rank → slot → fetch_at.

    _allowed   : the robots verdict (see _allowed)
    fetch_rank : 1-based per-host rank, allowed rows first in dequeue
                 order, then the disallowed ones
    slot       : floor((rank-1) / max_parallel)
    fetch_at   : slot * crawl_delay   (virtual seconds from round start)
    """
    out = _join_robots(
        batch, robots, _r_disallow="disallow", _crawl_delay="crawl_delay",
        _max_parallel="max_parallel",
    ).withColumn("_allowed", _allowed(F.col("_r_disallow")))
    delay = F.coalesce(F.col("_crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))
    cap = F.coalesce(F.col("_max_parallel"), F.lit(DEFAULT_MAX_PARALLEL))
    w = Window.partitionBy("host_hash").orderBy(
        F.col("_allowed").desc(), *dequeue_order()
    )
    out = out.withColumn("fetch_rank", F.row_number().over(w))
    slot = F.floor((F.col("fetch_rank") - 1) / cap)
    return (
        out.withColumn("fetch_slot", slot.cast("int"))
        .withColumn("fetch_at", (slot * delay).cast("double"))
        .drop("_r_disallow", "_crawl_delay", "_max_parallel")
    )
