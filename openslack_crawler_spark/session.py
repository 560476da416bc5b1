"""SparkSession factory tuned for the sandbox (local[N]) but with every
knob parameterized so the same code runs `spark-submit --py-files` on a
multi-executor cluster (BASELINE.json north_rule)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """~60% of the box's MemTotal, 1g to 31g (≤31g keeps the JVM's
    compressed oops; measured 48g heaps GC-thrash 3-4x on wide-row
    shuffles in local[32])."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{max(1, min(31, int(kb * 0.6 / 2**20)))}g"


def get_spark(
    app_name: str = "openslack-crawler-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    cores=None → honor $SPARK_GRAFT_CPUS (default: the CPUs this
    process may run on) in local mode, or whatever master an external
    spark-submit supplied. The driver heap is $SPARK_GRAFT_DRIVER_MEM
    (default: default_driver_memory()).
    """
    # executor python workers import this package by name (pandas UDFs,
    # applyInPandas) — make sure they can resolve it regardless of cwd.
    # On a real cluster spark-submit --py-files does this job.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)

    env_cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    n = cores or env_cpus
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    sp = shuffle_partitions or max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # GC reliable-checkpoint files once their RDDs are unreachable —
        # iterative ops (connected_components) checkpoint every round and
        # would otherwise accumulate O(history) files on a long crawl
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd parquet: A/B-measured FASTER to write than snappy on the
        # round-snapshot shape at both local[8] and local[32] (and 26%
        # smaller — guide §6 recommends it for real outputs too):
        # 32c write 1.78s vs 2.09s, 8c read-tail 6.0s vs 9.7s
        .config("spark.sql.parquet.compression.codec", "zstd")
        # let the planner pick shuffled-hash joins when its size
        # conditions hold (guide: often faster than sort-merge when one
        # side is moderately small per partition — the seen anti-join
        # probe shape); the choice stays stats-gated, so a 10^10-row
        # seen side still gets sort-merge. The AQE runtime SMJ→SHJ
        # threshold is deliberately LEFT OFF: A/B on the 200M-row
        # bucketed seen table showed it converting the sorted-bucket
        # merge (5.0s, zero sort) into a per-task 3.1M-row hash build
        # (17.2s) — the bucketed layout is exactly the case where
        # sort-merge is free.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # shuffle codec stays lz4 (the default): zstd was A/B'd on the
        # full scheduling round at BOTH levels across six usable paired
        # windows (r6, twice) — local[8] indistinguishable
        # (34.8/35.8 vs 35.3/35.4 quiet; 35.1 vs 32.4 noisy), local[32]
        # direction-INCONSISTENT (12.6/12.6 lz4 vs 12.1/10.6 zstd in one
        # noisy window, 11.6/11.4 lz4 vs 12.0/12.5 zstd in another) —
        # window-to-window variance dominates any codec effect at this
        # shuffle volume (~1-2 GB/round), so the default keeps the
        # guide-§2.3 "measure both" verdict on record instead of a
        # speculative flip.
        # Janino output is kept per generated source in one JVM-wide LRU
        # (static conf, read at session start). A crawl round asks for
        # ~117 distinct whole-stage classes, more than the default 100,
        # so LRU order evicted each class before the next round asked
        # again and every round recompiled 82-117 of them (0.6-1.1 s).
        # Per-round literals (round ids, the enqueue timestamp) add a few
        # new variants per round that churn the cache too; 2000 holds
        # the round's working set with headroom for them and for the
        # ingest and query plans sharing the session.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    # In a pre-existing session (e.g. driver harness) master is already set.
    if not SparkSession.getActiveSession():
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
