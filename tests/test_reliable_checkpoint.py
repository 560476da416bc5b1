"""Reliable-checkpoint path (cluster reliability, round-1 verdict #5):
iterative/stateful plans must run with a durable checkpoint dir —
localCheckpoint blocks die with their executor — and produce results
identical to the in-memory path."""

from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic
from openslack_crawler_spark.operators.components import connected_components
from openslack_crawler_spark.plans import round_job as rj


def test_components_with_reliable_checkpoint(spark, tmp_path):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src long, dst long",
    )
    base = {(r.node, r.component) for r in connected_components(edges).collect()}
    reliable = {
        (r.node, r.component)
        for r in connected_components(
            edges, checkpoint_dir=str(tmp_path / "ckpt"),
            small_graph_edges=0,  # force the distributed loop under test
        ).collect()
    }
    assert reliable == base
    assert base == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    # the durable dir was actually used
    import os

    assert any(os.scandir(tmp_path / "ckpt"))


def test_crawl_rounds_with_reliable_checkpoint(spark, tmp_path):
    seeds = synthetic.gen_seeds(spark, 300, n_hosts=20)
    robots = synthetic.gen_robots(spark, 20)
    cfg = rj.CrawlConfig(n_hosts=20, k_per_host=4, maxdepth=2)
    fmt_a = rj.run_crawl(spark, str(tmp_path / "a"), seeds, robots, cfg, rounds=2)
    stats_a = rj.run_round(fmt_a, cfg)
    spark.conf.set("spark.graft.checkpointDir", str(tmp_path / "ckpt"))
    # store b also applies the frontier's deletes by a shuffled anti-join,
    # the plan a read takes once its delete files are too large to broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fmt_b = rj.run_crawl(spark, str(tmp_path / "b"), seeds, robots, cfg, rounds=2)
        stats_b = rj.run_round(fmt_b, cfg)
    finally:
        spark.conf.unset("spark.graft.checkpointDir")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # the round's fetch count is observed on its dequeue cut, which
    # reliable checkpoint() materializes as well as localCheckpoint()
    assert stats_a == stats_b and stats_a["fetched"] > 0
    order_a = [tuple(r) for r in rj.crawl_order(fmt_a).collect()]
    order_b = [tuple(r) for r in rj.crawl_order(fmt_b).collect()]
    assert order_a == order_b
    seen_a = {r.url_hash for r in fmt_a.read("seen").collect()}
    seen_b = {r.url_hash for r in fmt_b.read("seen").collect()}
    assert seen_a == seen_b
    front_a = {r.url_hash for r in fmt_a.read("frontier").collect()}
    assert front_a == {r.url_hash for r in fmt_b.read("frontier").collect()}


def test_path_halving_chain_converges_logarithmically(spark):
    """Round-5 pointer jumping: a 64-node path must converge in
    O(log diameter) rounds — far fewer than the 63 the plain
    propagation needed — and still label every node with the min id."""
    from pyspark.sql import functions as F

    from openslack_crawler_spark.operators.components import connected_components

    chain = spark.range(63).selectExpr("id as src", "id+1 as dst")
    # max_iter=12 >> log2(63) but << 63: only the halving path passes
    labels = connected_components(chain, max_iter=12, small_graph_edges=0)
    rows = labels.collect()
    assert len(rows) == 64
    assert all(r.component == 0 for r in rows)


def test_components_two_cliques_and_isolated_edge(spark):
    from openslack_crawler_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21)],
        "src bigint, dst bigint",
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_small_graph_gate_equals_distributed_loop(spark):
    """Round-5 size gate: the driver union-find fast path and the
    distributed label-propagation loop must produce identical
    components (including min-id labeling) on a mixed fixture."""
    from openslack_crawler_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21), (5, 5),
         (30, 31), (31, 32), (32, 33), (33, 34), (34, 35)],
        "src bigint, dst bigint",
    )
    fast = {(r.node, r.component) for r in connected_components(edges).collect()}
    dist = {
        (r.node, r.component)
        for r in connected_components(edges, small_graph_edges=0).collect()
    }
    assert fast == dist
    assert fast == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20), (5, 5),
        (30, 30), (31, 30), (32, 30), (33, 30), (34, 30), (35, 30),
    }


def test_session_checkpoint_seam_flips_registered_query(spark, tmp_path):
    """VERDICT r5 task 6: one session conf routes every registered
    iterative/multi-consumer query's lineage cuts through reliable
    checkpoints. Drive a registered query end-to-end under the seam and
    assert (a) identical results, (b) the durable dir was used."""
    import os

    from openslack_crawler_spark.queries_components import (
        q_corpus_clean_fuzzy,
        q_dedup_components,
    )

    sf = "/root/testdata/sf0.001"
    base_fuzzy = sorted(map(tuple, q_corpus_clean_fuzzy(spark, sf).collect()))
    base_comp = sorted(map(tuple, q_dedup_components(spark, sf).collect()))
    ck = tmp_path / "seam_ckpt"
    sc = spark.sparkContext
    pre_dir = sc.getCheckpointDir()
    spark.conf.set("spark.graft.checkpointDir", str(ck))
    try:
        got_fuzzy = sorted(map(tuple, q_corpus_clean_fuzzy(spark, sf).collect()))
        got_comp = sorted(map(tuple, q_dedup_components(spark, sf).collect()))
    finally:
        spark.conf.unset("spark.graft.checkpointDir")
    assert got_fuzzy == base_fuzzy
    assert got_comp == base_comp
    # Spark allows ONE checkpoint dir per context: when an earlier test
    # already set it, _ckpt warns and reuses that dir — assert the seam
    # engaged a reliable dir either way
    post_dir = sc.getCheckpointDir()
    assert post_dir is not None
    if pre_dir is None:
        assert ck.exists() and any(os.scandir(ck))
