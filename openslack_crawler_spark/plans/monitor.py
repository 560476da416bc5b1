"""Monitor actions: info / stop / expire — the redis-monitor rebuilt as
DataFrame ops over snapshot tables (SURVEY.md §3.3).

Reference behavior:
- info: full zset scan + unpickle + per-crawlid aggregation
  (/root/reference/monitors/redis/redis-monitor.py:144-262,197-216).
- stop: blacklist append + triple-pass purge of matching requests
  (redis-monitor.py:305-346,348-387).
- expire: same via TTL check (redis-monitor.py:264-303).

Rebuild: info = one hash aggregate; stop/expire = blacklist append +
a single filtered snapshot swap (replaces the reference's triple scan:
SURVEY.md §4 O8 — the atomic commit provides the consistency the three
passes were approximating).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.table_format import SnapshotParquetFormat


def info_all(frontier: DataFrame) -> DataFrame:
    """Per-crawlid totals: count, high/low priority, distinct hosts
    (redis-monitor.py:144-195; A3/A6)."""
    return frontier.groupBy("appid", "crawlid").agg(
        F.count(F.lit(1)).alias("total_pending"),
        F.max("priority").alias("high_priority"),
        F.min("priority").alias("low_priority"),
        F.approx_count_distinct("host").alias("approx_domains"),
    )


def stop_crawl(
    fmt: SnapshotParquetFormat, appid: str, crawlid: str, reason: str = "stop"
) -> int:
    """Blacklist the (appid, crawlid) and purge its pending requests in
    ONE atomic snapshot commit."""
    spark = fmt.spark
    frontier = fmt.read("frontier")
    blacklist = fmt.read("blacklist")
    new_row = spark.createDataFrame(
        [(appid, crawlid, reason)], "appid string, crawlid string, reason string"
    )
    new_blacklist = (
        blacklist.unionByName(new_row) if blacklist is not None else new_row
    )
    purged = frontier.filter(
        ~((F.col("appid") == appid) & (F.col("crawlid") == crawlid))
    )
    meta = dict(fmt.meta())
    return fmt.commit({"frontier": purged, "blacklist": new_blacklist}, meta=meta)


def expire_crawls(fmt: SnapshotParquetFormat, now_expr=None) -> int:
    """Drop frontier rows whose crawl TTL has passed and blacklist the
    affected crawls (redis-monitor.py:264-303)."""
    frontier = fmt.read("frontier")
    now_expr = now_expr if now_expr is not None else F.current_timestamp()
    expired = (
        frontier.filter(F.col("expires").isNotNull() & (F.col("expires") <= now_expr))
        .select("appid", "crawlid")
        .distinct()
        .withColumn("reason", F.lit("expire"))
    )
    keep = frontier.filter(
        F.col("expires").isNull() | (F.col("expires") > now_expr)
    )
    blacklist = fmt.read("blacklist")
    new_blacklist = (
        blacklist.unionByName(expired) if blacklist is not None else expired
    )
    meta = dict(fmt.meta())
    return fmt.commit({"frontier": keep, "blacklist": new_blacklist}, meta=meta)


def counters_rollup(counters: DataFrame) -> DataFrame:
    """Round-level metric rollup from the per-partition lineage rows
    (stats.py:14-55; A1/A2)."""
    return counters.groupBy("round_id", "metric").agg(
        F.sum("value").alias("value"),
        F.count(F.lit(1)).alias("n_partitions"),
        F.max("value").alias("max_partition_value"),
        F.min("value").alias("min_partition_value"),
    )
