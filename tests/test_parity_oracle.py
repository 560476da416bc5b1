"""North-rule parity: the Spark round job must reproduce the
reference-semantics oracle exactly — crawl ordering, URL-seen set, and
per-document span sequences (BASELINE.json north_rule + input_hint) —
on the same seed list, same politeness budget, same page graph."""

import shutil

import pytest
from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic
from openslack_crawler_spark.oracle import CrawlOracle
from openslack_crawler_spark.plans import round_job as rj

N_HOSTS = 20
N_SEEDS = 300
ROUNDS = 3
K = 5
MAXDEPTH = 2


# messy seeds arrive non-canonical; their canonical form keeps a sorted
# query string (/p/17?a=1&b=2) that the page graph must see through
@pytest.fixture(scope="module", params=[0.0, 0.3])
def spark_run(spark, tmp_path_factory, request):
    root = str(tmp_path_factory.mktemp("crawlrun"))
    shutil.rmtree(root, ignore_errors=True)
    seeds = synthetic.gen_seeds(
        spark, N_SEEDS, n_hosts=N_HOSTS, messy_frac=request.param
    )
    robots = synthetic.gen_robots(spark, N_HOSTS)
    cfg = rj.CrawlConfig(n_hosts=N_HOSTS, k_per_host=K, maxdepth=MAXDEPTH)
    fmt = rj.run_crawl(spark, root, seeds, robots, cfg, rounds=ROUNDS)
    return fmt, seeds, robots


@pytest.fixture(scope="module")
def oracle_run(spark_run, spark):
    _, seeds, robots = spark_run
    seed_rows = [
        (r.url, r.priority, r.enqueue_seq) for r in seeds.collect()
    ]
    robot_rows = {
        r.host: {
            "crawl_delay": r.crawl_delay,
            "max_parallel": r.max_parallel,
            "disallow": list(r.disallow),
        }
        for r in robots.collect()
    }
    o = CrawlOracle(robot_rows, n_hosts=N_HOSTS, k_per_host=K, maxdepth=MAXDEPTH)
    o.bootstrap(seed_rows)
    return o.run(ROUNDS)


def test_crawl_ordering_parity(spark_run, oracle_run):
    fmt, _, _ = spark_run
    spark_order = [
        (r.round_id, r.url, r.fetch_at)
        for r in rj.crawl_order(fmt).collect()
    ]
    oracle_order = [(e["round"], e["url"], e["fetch_at"]) for e in oracle_run.fetch_log]
    assert len(spark_order) == len(oracle_order)
    assert spark_order == oracle_order


def test_url_seen_set_parity(spark_run, oracle_run):
    fmt, _, _ = spark_run
    # Spark tracks 64-bit hashes; map back via the union of frontier
    # history = fetch_log ∪ frontier ∪ documents is insufficient (seen
    # includes never-queued dupes), so compare via hashing the oracle's
    # URLs with the same xxhash64 through Spark.
    spark_seen = {r.url_hash for r in fmt.read("seen").collect()}
    spark_sess = fmt.spark
    oracle_urls = spark_sess.createDataFrame(
        [(u,) for u in oracle_run.seen], "url string"
    )
    oracle_hashes = {
        r.h for r in oracle_urls.select(F.xxhash64("url").alias("h")).collect()
    }
    assert spark_seen == oracle_hashes


def test_span_sequence_parity(spark_run, oracle_run):
    """input_hint per-row invariant: spans sorted by offset must match
    (kind, text, media_ref, order) exactly."""
    fmt, _, _ = spark_run
    docs = fmt.read("documents").select("url", "spans").collect()
    assert len(docs) == len(oracle_run.documents)
    for row in docs:
        got = [
            (s.kind, s.text, s.media_ref, s.offset)
            for s in sorted(row.spans, key=lambda s: s.offset)
        ]
        assert got == oracle_run.documents[row.url], row.url


def test_frontier_state_parity(spark_run, oracle_run):
    fmt, _, _ = spark_run
    spark_frontier = {
        (r.url, r.depth, r.priority) for r in fmt.read("frontier").collect()
    }
    oracle_frontier = {
        (r.url, r.depth, r.priority) for r in oracle_run.frontier
    }
    assert spark_frontier == oracle_frontier


# Spark jobs of one steady round (round 2) of this crawl, per
# failure_mod, as measured (local[4]). Retries share the children's
# with_dense_seq pass, so a round with retries costs no extra job, and
# that pass observes its counts on its range cut's own job. Reads pass
# the schema the manifest recorded, so none runs a schema-inference job.
# The dequeue cut runs 4 of them: its one shuffle and one broadcast of
# robots (a second per-host window or robots join would add one each).
# Link dedup runs inside each page's row and the sequencing ranks inside
# the range partitions, so neither shuffles (a regrouping shuffle on
# doc_id or on the range partition id would add one job each). The
# commit's writes read the frontier appends straight off the range cut
# (a cut of their own would add one job), and the counters of both
# metrics are one aggregate with one shuffle (one per metric adds one).
STEADY_ROUND_MAX_JOBS = {0: 16, 50: 16}
# eager lineage cuts of one round: the dequeue cut and with_dense_seq's
# range cut
ROUND_MAX_CUTS = 2
# classes Janino compiles for round 2, measured 43 / 11 when this test
# runs alone and 2 / 11 after the rest of this file: Spark's code cache
# holds round 1's classes, so what compiles is the per-round literal
# variants (round_id, the enqueue timestamp) plus, once per session, the
# frontier's delete anti-join, which round 1 (no deletes yet) lacks.
# With a code cache smaller than the round's working set it reads
# 101 / 106
STEADY_ROUND_MAX_COMPILES = 60


@pytest.mark.parametrize("failure_mod", sorted(STEADY_ROUND_MAX_JOBS))
def test_steady_round_job_count(spark, tmp_path, monkeypatch, failure_mod):
    """Fixed per-job cost dominates a round at these sizes, so a round
    that grows a Spark job (a recomputed count, an extra sequencing
    pass), a lineage cut, or generated code it cannot reuse from round 1
    fails here before it shows in a benchmark."""
    import uuid

    from openslack_crawler_spark.operators import components

    seeds = synthetic.gen_seeds(spark, N_SEEDS, n_hosts=N_HOSTS)
    robots = synthetic.gen_robots(spark, N_HOSTS)
    cfg = rj.CrawlConfig(
        n_hosts=N_HOSTS, k_per_host=K, maxdepth=MAXDEPTH, failure_mod=failure_mod
    )
    fmt = rj.run_crawl(spark, str(tmp_path), seeds, robots, cfg, rounds=1)
    cuts = []
    ckpt = components._ckpt

    def counted(df, checkpoint_dir, eager=True):
        cuts.append(df.columns)
        return ckpt(df, checkpoint_dir, eager)

    monkeypatch.setattr(components, "_ckpt", counted)
    sc = spark.sparkContext
    compile_time = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    group = f"steady-round-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "parity crawl round 2")
    compiled = compile_time.getCount()
    try:
        stats = rj.run_round(fmt, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    compiled = compile_time.getCount() - compiled
    assert stats["round"] == 2 and stats["fetched"] > 0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert (
        0 < jobs <= STEADY_ROUND_MAX_JOBS[failure_mod]
        and len(cuts) <= ROUND_MAX_CUTS
        and compiled <= STEADY_ROUND_MAX_COMPILES
    ), (jobs, len(cuts), compiled)


def test_round_tables_agree_on_the_appends(spark, tmp_path):
    """The frontier, seen and counters writes each rank the round's
    appends afresh off the range cut, so they must agree row for row: a
    new frontier row's enqueue_seq is its fingerprint's added_seq in the
    round's seen delta (a retry adds no seen row), the new seqs are
    exactly [next_seq before, next_seq after), and the round's enqueued
    counters sum to the new frontier rows."""
    seeds = synthetic.gen_seeds(spark, N_SEEDS, n_hosts=N_HOSTS)
    robots = synthetic.gen_robots(spark, N_HOSTS)
    cfg = rj.CrawlConfig(n_hosts=N_HOSTS, k_per_host=K, maxdepth=MAXDEPTH, failure_mod=50)
    fmt = rj.run_crawl(spark, str(tmp_path), seeds, robots, cfg, rounds=1)
    prev, start = fmt.current_snapshot_id(), fmt.meta()["next_seq"]
    round_id = rj.run_round(fmt, cfg)["round"]

    def delta(table):  # set operations refuse map columns (attrs)
        now, before = fmt.read(table), fmt.read(table, prev)
        keep = [c for c in now.columns if c != "attrs"]
        return now.select(keep).exceptAll(before.select(keep)).collect()

    new_rows, new_seen = delta("frontier"), delta("seen")
    added = {r.url_hash: r.added_seq for r in new_seen}
    assert len(added) == len(new_seen)
    retries = [r for r in new_rows if r.dont_filter]
    assert retries and not {r.url_hash for r in retries} & set(added)
    assert all(added[r.url_hash] == r.enqueue_seq for r in new_rows if not r.dont_filter)
    assert sorted(r.enqueue_seq for r in new_rows) == list(range(start, fmt.meta()["next_seq"]))
    enqueued = (
        fmt.read("counters")
        .filter((F.col("round_id") == round_id) & (F.col("metric") == "scheduler/enqueued"))
        .agg(F.sum("value")).collect()[0][0]
    )
    assert enqueued == len(new_rows)


def _all_disallowed(spark, n_hosts):
    return synthetic.gen_robots(spark, n_hosts).withColumn(
        "disallow", F.array(F.lit("/"))
    )


# (robots, maxdepth, rounds): every host disallows "/", so round 1
# fetches nothing; or nothing expands (maxdepth 0), so the frontier
# drains and a later round pops nothing
EMPTY_ROUND_CRAWLS = {
    "all_disallowed": (_all_disallowed, MAXDEPTH, 4),
    "frontier_exhausted": (synthetic.gen_robots, 0, 12),
}


@pytest.mark.parametrize("case", sorted(EMPTY_ROUND_CRAWLS))
def test_empty_round_commits_like_any_round(spark, tmp_path, case):
    """A round that fetches nothing runs the same commit as any other,
    with empty deltas: run_crawl stops after it, the empty round adds no
    fetch_log or counters rows, and the crawl's tables still read (a crawl
    whose first round fetches nothing has them too) and equal the
    oracle's."""
    from openslack_crawler_spark.plans import monitor

    make_robots, maxdepth, rounds = EMPTY_ROUND_CRAWLS[case]
    n_hosts = 5
    seeds = synthetic.gen_seeds(spark, 40, n_hosts=n_hosts)
    robots = make_robots(spark, n_hosts)
    cfg = rj.CrawlConfig(n_hosts=n_hosts, k_per_host=4, maxdepth=maxdepth)
    fmt = rj.run_crawl(spark, str(tmp_path), seeds, robots, cfg, rounds=rounds)

    o = CrawlOracle(
        {
            r.host: {"crawl_delay": r.crawl_delay, "max_parallel": r.max_parallel,
                     "disallow": list(r.disallow)}
            for r in robots.collect()
        },
        n_hosts=n_hosts, k_per_host=4, maxdepth=maxdepth,
    )
    o.bootstrap([(r.url, r.priority, r.enqueue_seq) for r in seeds.collect()])
    o.run(rounds)

    last = fmt.meta()["round"]
    assert last < rounds  # stopped at the empty round
    assert last == 1 + max((e["round"] for e in o.fetch_log), default=0)
    order = rj.crawl_order(fmt)
    rollup = monitor.counters_rollup(fmt.read("counters"))
    assert order.filter(F.col("round_id") == last).count() == 0
    assert rollup.filter(F.col("round_id") == last).count() == 0
    if case == "all_disallowed":
        assert order.count() == 0 and rollup.count() == 0
    else:
        assert fmt.read("frontier").count() == 0
    assert [(r.round_id, r.url, r.fetch_at) for r in order.collect()] == [
        (e["round"], e["url"], e["fetch_at"]) for e in o.fetch_log
    ]
    assert {
        (r.url, r.depth, r.priority) for r in fmt.read("frontier").collect()
    } == {(r.url, r.depth, r.priority) for r in o.frontier}
    oracle_hashes = {
        r.h for r in spark.createDataFrame([(u,) for u in o.seen], "url string")
        .select(F.xxhash64("url").alias("h")).collect()
    }
    assert {r.url_hash for r in fmt.read("seen").collect()} == oracle_hashes
