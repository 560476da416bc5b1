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
prefix array (no Python). It is a mark (robots_mark), so the round
keeps disallowed rows in its dequeue cut: they leave the frontier too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.url import path_of
from .frontier import dequeue_order

DEFAULT_CRAWL_DELAY = 1.0  # settings2.py:14
DEFAULT_MAX_PARALLEL = 8  # settings2.py:18


def robots_mark(batch: DataFrame, robots: DataFrame) -> DataFrame:
    """The robots verdict as a mark: adds `_allowed`, True where no
    disallowed prefix of the row's host starts its path (False, not
    NULL, when there is no verdict). robots is broadcast (one row per
    host — tiny next to the frontier)."""
    r = robots.select(
        F.col("host").alias("_r_host"), F.col("disallow").alias("_r_disallow")
    )
    joined = batch.join(
        F.broadcast(r), batch["host"] == r["_r_host"], "left"
    )
    path = path_of(F.col("url"))
    allowed = F.col("_r_disallow").isNull() | ~F.exists(
        F.col("_r_disallow"), lambda p: path.startswith(p)
    )
    return joined.withColumn("_allowed", F.coalesce(allowed, F.lit(False))).drop(
        "_r_host", "_r_disallow"
    )


def robots_filter(batch: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop URLs whose path starts with a disallowed prefix for their
    host."""
    return robots_mark(batch, robots).filter("_allowed").drop("_allowed")


def assign_fetch_slots(
    batch: DataFrame, robots: DataFrame, allowed: str | None = None
) -> DataFrame:
    """Token-bucket politeness window: per-host rank → slot → fetch_at.

    fetch_rank : 1-based per-host rank in dequeue order
    slot       : floor((rank-1) / max_parallel)
    fetch_at   : slot * crawl_delay   (virtual seconds from round start)

    `allowed` names a boolean column (robots_mark's): its True rows take
    ranks 1..n in dequeue order, the others rank after them.
    """
    r = robots.select(
        F.col("host").alias("_r_host"),
        F.col("crawl_delay").alias("_crawl_delay"),
        F.col("max_parallel").alias("_max_parallel"),
    )
    out = batch.join(F.broadcast(r), batch["host"] == r["_r_host"], "left").drop(
        "_r_host"
    )
    delay = F.coalesce(F.col("_crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))
    cap = F.coalesce(F.col("_max_parallel"), F.lit(DEFAULT_MAX_PARALLEL))
    first = [] if allowed is None else [F.col(allowed).desc()]
    w = Window.partitionBy("host_hash").orderBy(*first, *dequeue_order())
    out = out.withColumn("fetch_rank", F.row_number().over(w))
    slot = F.floor((F.col("fetch_rank") - 1) / cap)
    return (
        out.withColumn("fetch_slot", slot.cast("int"))
        .withColumn("fetch_at", (slot * delay).cast("double"))
        .drop("_crawl_delay", "_max_parallel")
    )
