"""Kill/resume exactness (ST5, north_rule 'resumable from checkpoint')
and monitor actions (info/stop/expire) over the snapshot store."""

import os

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic
from openslack_crawler_spark.plans import monitor, round_job as rj

N_HOSTS, N_SEEDS, K, MAXD, ROUNDS = 15, 200, 4, 2, 3


def _run(spark, root, rounds, resume=False):
    seeds = synthetic.gen_seeds(spark, N_SEEDS, n_hosts=N_HOSTS)
    robots = synthetic.gen_robots(spark, N_HOSTS)
    cfg = rj.CrawlConfig(n_hosts=N_HOSTS, k_per_host=K, maxdepth=MAXD)
    return rj.run_crawl(spark, root, seeds, robots, cfg, rounds=rounds, resume=resume)


def _state(fmt):
    """What resume must reproduce: crawl order, seen set, frontier."""
    return (
        [(r.round_id, r.url) for r in rj.crawl_order(fmt).collect()],
        {r.url_hash for r in fmt.read("seen").collect()},
        {r.url for r in fmt.read("frontier").collect()},
    )


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    return _state(_run(spark, str(tmp_path_factory.mktemp("full")), ROUNDS))


class Abort(Exception):
    pass


# round 2's commit writes six append deltas: the frontier's new rows,
# seen, counters, fetch_log, documents, and the frontier's deletes
ROUND2_WRITES = 6
ABORTS = [
    "between_rounds",
    *(f"write_{k}" for k in range(1, ROUND2_WRITES + 1)),
    "before_current_swap",
]


@pytest.mark.parametrize("abort", ABORTS)
def test_kill_resume_exactness(spark, tmp_path, monkeypatch, uninterrupted, abort):
    """Kill the crawl after round 1, or inside round 2's commit (at each
    table write, or after its manifest is written but before CURRENT is
    swapped): the store still shows round 1, and resuming reproduces the
    uninterrupted crawl exactly."""
    root = str(tmp_path / "kill")
    fmt = _run(spark, root, 1)
    if abort != "between_rounds":
        before = (fmt.current_snapshot_id(), fmt.meta())
        writes = []
        parquet_fn, replace_fn = DataFrameWriter.parquet, os.replace

        def parquet(self, path, *args, **kwargs):
            writes.append(path)
            if abort == f"write_{len(writes)}":
                raise Abort(path)
            return parquet_fn(self, path, *args, **kwargs)

        def replace(src, dst):
            if abort == "before_current_swap" and dst.endswith("CURRENT"):
                raise Abort(dst)
            return replace_fn(src, dst)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        monkeypatch.setattr(os, "replace", replace)
        with pytest.raises(Abort):
            _run(spark, root, 2, resume=True)
        monkeypatch.undo()
        if abort == "before_current_swap":
            assert len(writes) == ROUND2_WRITES
        assert (fmt.current_snapshot_id(), fmt.meta()) == before
    resumed = _run(spark, root, ROUNDS, resume=True)
    assert _state(resumed) == uninterrupted


@pytest.fixture()
def crawl_fmt(spark, tmp_path):
    return _run(spark, str(tmp_path / "mon"), 2)


def test_round_commit_writes_no_old_frontier_row(spark, crawl_fmt):
    """O(round) commits: round 2 writes its own new frontier rows (and the
    dequeued keys as deletes), never a copy of a row already queued
    before it, whose enqueue_seq is below round 1's next_seq."""
    r1, r2 = crawl_fmt._manifest(1), crawl_fmt._manifest(2)
    old_dirs = set(r1["tables"]["frontier"])
    written = [d for d in r2["tables"]["frontier"] if d not in old_dirs]
    assert written
    copied = spark.read.parquet(*written).filter(
        F.col("enqueue_seq") < r1["meta"]["next_seq"]
    )
    assert copied.count() == 0


def test_info_aggregates(spark, crawl_fmt):
    info = monitor.info_all(crawl_fmt.read("frontier")).collect()
    assert len(info) == 1  # one (appid, crawlid) in the fixture
    row = info[0]
    assert row.total_pending > 0
    assert row.high_priority >= row.low_priority


def test_stop_purges_and_blacklists(spark, crawl_fmt):
    before = crawl_fmt.read("frontier").count()
    assert before > 0
    monitor.stop_crawl(crawl_fmt, "app-1", "crawl-1")
    assert crawl_fmt.read("frontier").count() == 0
    bl = crawl_fmt.read("blacklist").collect()
    assert [(b.appid, b.crawlid, b.reason) for b in bl] == [("app-1", "crawl-1", "stop")]
    # snapshot lineage intact: pre-stop frontier still readable
    prev = crawl_fmt.current_snapshot_id() - 1
    assert crawl_fmt.read("frontier", snapshot_id=prev).count() == before


def test_expire_drops_only_expired(spark, crawl_fmt):
    frontier = crawl_fmt.read("frontier")
    n = frontier.count()
    # mark half the rows as already expired
    marked = frontier.withColumn(
        "expires",
        F.when(F.pmod("enqueue_seq", F.lit(2)) == 0,
               F.lit("2000-01-01").cast("timestamp")),
    )
    meta = dict(crawl_fmt.meta())
    crawl_fmt.commit({"frontier": marked}, meta=meta)
    monitor.expire_crawls(crawl_fmt)
    left = crawl_fmt.read("frontier")
    assert left.filter(F.col("expires").isNotNull()).count() == 0
    assert 0 < left.count() < n
    assert {b.reason for b in crawl_fmt.read("blacklist").collect()} == {"expire"}


def test_counters_rollup(spark, crawl_fmt):
    roll = monitor.counters_rollup(crawl_fmt.read("counters"))
    rows = {(r.round_id, r.metric): r.value for r in roll.collect()}
    assert all(v > 0 for v in rows.values())
    assert any(m == "scheduler/dequeued" for (_, m) in rows)
