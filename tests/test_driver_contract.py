"""Driver-contract invariants: the correctness gate checks the FIRST 50
registry entries, so the explicit window must stay exactly 50, fully
resolvable, and must contain every flagship operator."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry

FLAGSHIPS = [
    # the crawl core + composite pipelines: always in-window (their
    # answers depend on many operators at once, so they catch cross-
    # cutting regressions the single-op queries can't)
    "seen_antijoin", "crawl_e2e", "crawl_e2e_summary",
    "dedup_components", "ann_ivf_topk",
    "corpus_clean_fuzzy", "corpus_clean_pipeline", "minhash_lsh_pairs",
    "text_bm25_topk",
    # new round-5 query, in-window its first round
    "ann_recall_report",
]
# rotation completeness (which stale/new queries must be in-window) is
# enforced mechanically by tests/test_rotation_guard.py + greenmap.json


def test_window_is_exactly_50_and_resolvable():
    names = list(entry.queries())
    assert len(entry._WINDOW) == 50
    assert names[:50] == entry._WINDOW  # every window name resolved
    assert len(names) == len(set(names))


def test_flagships_inside_window():
    names = list(entry.queries())[:50]
    missing = [f for f in FLAGSHIPS if f not in names]
    assert not missing, missing


def test_oracle_sql_subset_and_rows_only_contract():
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(os_) <= set(qs)
    assert set(qs) - set(os_) == {"crawl_e2e"}  # the only rows-only entry


def test_entry_equals_window_formulation(spark):
    """entry() composes the round job's operators (URL columns, seen
    anti-join, per-host top-k, politeness slots); it must return exactly
    the rows of the plain window formulation over the same events:
    per host, the top 8 unseen URLs by (priority desc, event_id asc),
    4 per 1-second slot."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    got = entry.entry(spark)
    events = spark.read.parquet(*got.inputFiles())
    frontier = events.select(
        F.concat(
            F.lit("http://host-"), F.col("user_id").cast("string"),
            F.lit(".example/p/"), F.col("event_id").cast("string"),
        ).alias("url"),
        F.col("user_id").alias("host_id"),
        F.col("event_id").alias("enqueue_seq"),
        F.floor("value").cast("int").alias("priority"),
    ).withColumn("url_hash", F.xxhash64("url")).withColumn(
        "score", F.col("priority").cast("double")
    )
    seen = frontier.filter(F.pmod("enqueue_seq", F.lit(3)) == 0).select("url_hash")
    fresh = frontier.join(seen, "url_hash", "left_anti")
    w = Window.partitionBy("host_id").orderBy(
        F.col("score").desc(), F.col("enqueue_seq").asc()
    )
    want = (
        fresh.withColumn("fetch_rank", F.row_number().over(w))
        .filter(F.col("fetch_rank") <= 8)
        .select(
            "url", "host_id", "priority", "fetch_rank",
            (F.floor((F.col("fetch_rank") - 1) / 4) * 1.0).alias("fetch_at"),
        )
    )
    assert got.columns == want.columns
    assert events.count() == 1000
    want_rows = sorted(tuple(r) for r in want.collect())
    assert want_rows and sorted(tuple(r) for r in got.collect()) == want_rows
