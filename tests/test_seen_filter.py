"""Seen-filter semantics (SURVEY.md §2.2 F1-F3; tests/offline.py:29-45
TestRedisDupefilter analogue: first add unseen, second add seen)."""

from pyspark.sql import functions as F

from openslack_crawler_spark.operators.seen_filter import (
    PartitionedBloom,
    filter_unseen,
    first_wins_dedup,
)


def _cands(spark, rows):
    return spark.createDataFrame(
        rows, "url_hash long, enqueue_seq long, dont_filter boolean"
    )


def test_first_wins_dedup(spark):
    c = _cands(spark, [(1, 10, False), (1, 5, False), (2, 7, False)])
    got = {(r.url_hash, r.enqueue_seq) for r in first_wins_dedup(c).collect()}
    assert got == {(1, 5), (2, 7)}  # earliest enqueue_seq wins, like SADD order


def test_first_wins_minby_matches_window_shape(spark):
    """Round-5: first_wins_dedup switched from row_number-over-window to
    min_by-over-groupBy (map-side combine, no sort). This pins the exact
    kept-row set against the window formulation on a messy fixture —
    multi-column rows, many dups, unique seq."""
    from pyspark.sql import Window

    rows = [
        (h, 1000 - i, f"u{h}-{i}", i % 3 == 0)
        for i, h in enumerate([1, 1, 1, 2, 2, 3, 4, 4, 4, 4, 5])
    ]
    c = spark.createDataFrame(
        rows, "url_hash long, enqueue_seq long, url string, extra boolean"
    ).withColumn("dont_filter", F.lit(False))
    w = Window.partitionBy("url_hash").orderBy(F.col("enqueue_seq").asc())
    want = sorted(
        map(
            tuple,
            c.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .collect(),
        )
    )
    got = sorted(map(tuple, first_wins_dedup(c).collect()))
    assert got == want
    # column order preserved
    assert first_wins_dedup(c).columns == c.columns

    # the order key as a Column: a struct with a descending component,
    # as the round passes its pop order struct(-parent_score, parent_seq)
    scored = (
        c.withColumn("score", (F.col("enqueue_seq") % 2).cast("double"))
        .withColumn("seq", -F.col("enqueue_seq"))
    )
    w = Window.partitionBy("url_hash").orderBy(F.col("score").desc(), F.col("seq").asc())
    want = sorted(
        map(
            tuple,
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .collect(),
        )
    )
    got = sorted(map(tuple, first_wins_dedup(scored, F.struct(-F.col("score"), "seq")).collect()))
    assert got == want


def test_exact_anti_join(spark):
    c = _cands(spark, [(1, 1, False), (2, 2, False), (3, 3, False)])
    seen = spark.createDataFrame([(2,), (99,)], "url_hash long")
    got = {r.url_hash for r in filter_unseen(c, seen).collect()}
    assert got == {1, 3}


def test_bloom_no_false_negatives_and_equivalence(spark):
    n = 5000
    seen = spark.range(n).select((F.xxhash64("id")).alias("url_hash"))
    cands = (
        spark.range(n // 2, n + 2000)
        .select(F.xxhash64("id").alias("url_hash"))
        .withColumn("enqueue_seq", F.col("url_hash"))
        .withColumn("dont_filter", F.lit(False))
    )
    bloom = PartitionedBloom(num_blocks=8, bits=1 << 18)
    blocks = bloom.build(seen)

    # probe: every truly-seen hash must be flagged maybe_seen (no false negs)
    probed = bloom.probe(cands, blocks)
    truly_seen = probed.join(seen, "url_hash", "left_semi")
    assert truly_seen.filter(~F.col("maybe_seen")).count() == 0

    # prefiltered path ≡ exact path (bloom is prefilter, never decider)
    exact = {r.url_hash for r in filter_unseen(cands, seen).collect()}
    pre = {
        r.url_hash
        for r in bloom.prefiltered_unseen(cands, seen, blocks).collect()
    }
    assert pre == exact


def test_bloom_incremental_merge(spark):
    a = spark.range(0, 100).select(F.xxhash64("id").alias("url_hash"))
    b = spark.range(100, 200).select(F.xxhash64("id").alias("url_hash"))
    bloom = PartitionedBloom(num_blocks=4, bits=1 << 16)
    merged = bloom.merge(bloom.build(a), b)
    probed = bloom.probe(
        a.unionByName(b)
        .withColumn("enqueue_seq", F.lit(0).cast("long"))
        .withColumn("dont_filter", F.lit(False)),
        merged,
    )
    assert probed.filter(~F.col("maybe_seen")).count() == 0
