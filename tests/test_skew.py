"""Hot-host skew handling (north_rule: skew handled explicitly;
SURVEY.md §5.5 scale/skew smoke). The dequeue's per-host window gets a
partial WindowGroupLimit below its one shuffle, so a hot host ships at
most k rows per input partition; these tests pin that plan shape."""

import re
import uuid

import pytest
from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic
from openslack_crawler_spark.operators import components
from openslack_crawler_spark.operators import frontier as fr
from openslack_crawler_spark.plans import round_job as rj


def _skewed_frontier(spark, n=60000, hosts=50):
    """Zipf(2) generator: rank-1 host carries ~half the mass."""
    seeds = synthetic.gen_seeds(spark, n, n_hosts=hosts)
    return (
        seeds.withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host_hash", F.xxhash64(F.regexp_extract("url", r"(host-\d+)", 1)))
        .withColumn("score", F.col("priority").cast("double"))
        .withColumn("dont_filter", F.lit(False))
    )


def _plan_nodes(df):
    """[(name, details)] of df's physical plan, in the post-order ids of
    explain("formatted"): a unary node's child is the entry before it."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = df._jdf.queryExecution().explainString(mode.fromString("formatted"))
    return re.findall(r"^\(\d+\) (.+)\n((?:.+\n)*)", plan, re.M)


def _hash_exchanges(nodes):
    return [
        i for i, (name, details) in enumerate(nodes)
        if name.strip() == "Exchange" and "hashpartitioning" in details
    ]


def _threshold(spark):
    return int(spark.conf.get(fr.WINDOW_GROUP_LIMIT_CONF))


def test_generator_is_actually_skewed(spark):
    f = _skewed_frontier(spark)
    counts = f.groupBy("host_hash").count()
    top = counts.agg(F.max("count")).collect()[0][0]
    total = f.count()
    assert top > total * 0.3  # hot host holds a big share — skew is real


@pytest.mark.parametrize("k", [8, "threshold"])
def test_dequeue_is_one_shuffle_over_a_partial_limit(spark, k):
    """One hash Exchange, fed by a partial WindowGroupLimit: every input
    partition caps each host at k rows before the shuffle, up to the
    largest k Spark plans that node for."""
    k = _threshold(spark) if k == "threshold" else k
    nodes = _plan_nodes(fr.dequeue_top_k_per_host(_skewed_frontier(spark), k))
    (ex,) = _hash_exchanges(nodes)
    name, details = nodes[ex - 1]
    assert name.strip() == "WindowGroupLimit" and details.rstrip().endswith(
        f"row_number(), {k}, Partial"
    ), nodes[ex - 1]


def test_dequeue_equals_pandas_top_k(spark):
    k = 8
    f = _skewed_frontier(spark)
    got = {
        (r.url, r.dequeue_rank)
        for r in fr.dequeue_top_k_per_host(f, k).select("url", "dequeue_rank").collect()
    }
    pdf = f.select("url", "host_hash", "score", "enqueue_seq").toPandas()
    top = (
        pdf.sort_values(["score", "enqueue_seq"], ascending=[False, True])
        .groupby("host_hash")
        .head(k)
    )
    rank = top.groupby("host_hash").cumcount() + 1
    assert got == set(zip(top["url"], rank))


def test_dequeue_refuses_k_above_window_group_limit(spark):
    """Above the threshold Spark plans no WindowGroupLimit and a hot host
    would be shuffled whole, so the call raises, before any job runs."""
    sc = spark.sparkContext
    group = f"dequeue-k-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "dequeue k above the threshold")
    try:
        with pytest.raises(ValueError, match=fr.WINDOW_GROUP_LIMIT_CONF):
            fr.dequeue_top_k_per_host(_skewed_frontier(spark), _threshold(spark) + 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_round_dequeue_cut_shuffles_once_and_joins_robots_once(
    spark, tmp_path, monkeypatch
):
    """Cut A of a real round on Zipf seeds: the dequeue's one shuffle
    (the politeness window reuses its partitioning) and one broadcast of
    the robots table, which gives the verdict and the slots together."""
    hosts = 50
    seeds = synthetic.gen_seeds(spark, 3000, n_hosts=hosts)
    robots = synthetic.gen_robots(spark, hosts)
    cfg = rj.CrawlConfig(n_hosts=hosts, k_per_host=8, maxdepth=1)
    cuts = []
    ckpt = components._ckpt

    def captured(df, checkpoint_dir, eager=True):
        if {"dequeue_rank", "fetch_at"} <= set(df.columns):
            cuts.append(_plan_nodes(df))
        return ckpt(df, checkpoint_dir, eager)

    monkeypatch.setattr(components, "_ckpt", captured)
    rj.run_crawl(spark, str(tmp_path), seeds, robots, cfg, rounds=1)
    (nodes,) = cuts
    (ex,) = _hash_exchanges(nodes)
    assert "Partial" in nodes[ex - 1][1]
    robots_broadcasts = [
        d for name, d in nodes if name.strip() == "BroadcastExchange" and "_r_host" in d
    ]
    assert len(robots_broadcasts) == 1, robots_broadcasts


def test_round_regroups_no_rows_that_are_already_together(
    spark, tmp_path, monkeypatch
):
    """A page's links dedup inside its row, so the range cut (cut B)
    shuffles nothing on doc_id; the sequencing ranks each range partition
    where it lies, so the frontier write reads the range cut with no
    Exchange in between: the rank from monotonically_increasing_id is
    only valid in the stage that reads the cut."""
    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    hosts = 50
    seeds = synthetic.gen_seeds(spark, 3000, n_hosts=hosts)
    robots = synthetic.gen_robots(spark, hosts)
    cfg = rj.CrawlConfig(n_hosts=hosts, k_per_host=8, maxdepth=1)
    plans = {}
    ckpt = components._ckpt
    commit = SnapshotParquetFormat.commit

    def captured(df, checkpoint_dir, eager=True):
        if "_pid" in df.columns:
            plans["range"] = _plan_nodes(df)
        return ckpt(df, checkpoint_dir, eager)

    def committed(self, updates=None, meta=None, appends=None):
        if appends:
            plans["frontier"] = _plan_nodes(appends["frontier"])
        return commit(self, updates, meta, appends)

    monkeypatch.setattr(components, "_ckpt", captured)
    monkeypatch.setattr(SnapshotParquetFormat, "commit", committed)
    rj.run_crawl(spark, str(tmp_path), seeds, robots, cfg, rounds=1)
    # the range cut's plan holds the link extraction
    assert any(name.strip() == "Generate" for name, _ in plans["range"])
    doc_id_exchanges = [
        d for name, d in plans["range"]
        if name.strip() == "Exchange" and re.search(r"hashpartitioning\([^)]*doc_id", d)
    ]
    assert doc_id_exchanges == []
    # the frontier write scans the range cut itself, and shuffles nothing
    scans = [d for name, d in plans["frontier"] if name.startswith("Scan ExistingRDD")]
    assert len(scans) == 1 and "_pid" in scans[0]
    assert [n for n, _ in plans["frontier"] if "Exchange" in n] == []
