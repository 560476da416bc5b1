"""Frontier queue semantics (SURVEY.md §2.5 W1-W4, §2.6 T1;
offline.py:48-64 retry decay analogue)."""

import pytest
from pyspark.sql import functions as F

from openslack_crawler_spark.operators import frontier as fr
from openslack_crawler_spark.operators.politeness import assign_fetch_slots
from openslack_crawler_spark.operators.sequence import with_dense_seq


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, host_hash long, "
        "priority int, score double, enqueue_seq long, retry_times int, "
        "dont_filter boolean",
    )


def test_retry_decay(spark):
    # redis_retry.py:9-22: 70 → 60, retry_times+1, dont_filter set
    df = _frontier(spark, [("u", 1, "h", 1, 70, 70.0, 0, 0, False)])
    r = fr.decay_for_retry(df).collect()[0]
    assert (r.priority, r.retry_times, r.dont_filter, r.score) == (60, 1, True, 60.0)


def test_top_k_per_host_and_tiebreak(spark):
    rows = [
        ("a", 1, "h1", 10, 50, 50.0, 3, 0, False),
        ("b", 2, "h1", 10, 90, 90.0, 2, 0, False),
        ("c", 3, "h1", 10, 90, 90.0, 1, 0, False),  # tie: lower seq first
        ("d", 4, "h2", 20, 10, 10.0, 4, 0, False),
    ]
    df = _frontier(spark, rows)
    got = fr.dequeue_top_k_per_host(df, 2)
    ranks = {(r.url, r.dequeue_rank) for r in got.collect()}
    assert ranks == {("c", 1), ("b", 2), ("d", 1)}


def test_politeness_slots(spark):
    # 5 requests on one host, cap 2, delay 1.5 → slots 0,0,1,1,2
    rows = [(f"u{i}", i, "h1", 10, 100 - i, float(100 - i), i, 0, False) for i in range(5)]
    df = _frontier(spark, rows)
    robots = spark.createDataFrame(
        [("h1", 1.5, 2, [])], "host string, crawl_delay double, max_parallel int, disallow array<string>"
    )
    got = assign_fetch_slots(df, robots).orderBy("fetch_rank").collect()
    assert [r.fetch_slot for r in got] == [0, 0, 1, 1, 2]
    assert [r.fetch_at for r in got] == [0.0, 0.0, 1.5, 1.5, 3.0]
    assert [r.url for r in got] == ["u0", "u1", "u2", "u3", "u4"]  # score desc


# 0 rows: the observed counts still arrive; 2 rows: most range
# partitions are empty, so their offsets repeat
@pytest.mark.parametrize("n_rows", [0, 2, 500])
def test_dense_seq_matches_global_rank(spark, n_rows):
    df = spark.range(n_rows).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(1000)).alias("k")
    )
    got, n = with_dense_seq(
        df, [F.col("k").asc(), F.col("id").asc()], start=7, col_name="s"
    )
    assert n == n_rows
    rows = got.orderBy("s").collect()
    assert [r.s for r in rows] == list(range(7, 7 + n_rows))
    resorted = sorted(rows, key=lambda r: (r.k, r.id))
    assert [r.s for r in resorted] == list(range(7, 7 + n_rows))


def test_dense_seq_where_sequences_flagged_rows_only(spark):
    df = spark.range(300).select(
        F.col("id"), (F.pmod(F.xxhash64("id"), F.lit(3)) != 0).alias("ok")
    )
    got, n = with_dense_seq(
        df, [F.col("id").desc()], start=5, col_name="s", where="ok"
    )
    rows = got.collect()
    ok = sorted((r for r in rows if r.ok), key=lambda r: -r.id)
    assert n == len(ok) and 0 < n < 300 and len(rows) == 300
    assert [r.s for r in ok] == list(range(5, 5 + n))
    assert all(r.s is None for r in rows if not r.ok)


def test_politeness_slots_rank_allowed_rows_only(spark):
    # robots disallows u1 and u3: the others take ranks 1-3 in pop order,
    # so their slots fill as if u1 and u3 were not there
    rows = [
        (f"http://h1/u{i}", i, "h1", 10, 100 - i, float(100 - i), i, 0, False)
        for i in range(5)
    ]
    robots = spark.createDataFrame(
        [("h1", 1.5, 2, ["/u1", "/u3"])],
        "host string, crawl_delay double, max_parallel int, disallow array<string>",
    )
    got = {
        r.url.rsplit("/", 1)[1]: (r._allowed, r.fetch_rank, r.fetch_at)
        for r in assign_fetch_slots(_frontier(spark, rows), robots).collect()
    }
    assert got == {
        "u0": (True, 1, 0.0), "u2": (True, 2, 0.0), "u4": (True, 3, 1.5),
        "u1": (False, 4, 1.5), "u3": (False, 5, 3.0),
    }


def test_mark_enqueue_filters_null_flag_coalesced(spark):
    """Round-3 ADVICE: NULL depth/maxdepth must flag False, not NULL —
    a NULL flag escapes both filter(ok) and filter(~ok), so the row's
    fingerprint would enter neither accepted nor dropped seen and the
    URL could be re-crawled later."""
    df = spark.createDataFrame(
        [
            ("ok", 1, 3, None),
            ("null_depth", None, 3, None),
            ("null_maxdepth", 1, None, None),
        ],
        "url string, depth int, maxdepth int, expires timestamp",
    ).withColumn("appid", F.lit("a")).withColumn("crawlid", F.lit("c"))
    flagged = fr.mark_enqueue_filters(df)
    ok = {r.url for r in flagged.filter(F.col("_enqueue_ok")).collect()}
    dropped = {r.url for r in flagged.filter(~F.col("_enqueue_ok")).collect()}
    assert ok == {"ok"}
    assert dropped == {"null_depth", "null_maxdepth"}
    assert ok | dropped == {r.url for r in df.collect()}  # nothing escapes


def test_link_rank_hand_checked(spark):
    """link_rank semantics on a hand-computable 3-node graph, written
    through a temp parquet 'events' table: A->B, A->C, B->C (one click
    each). With integer micro-units and 0.85 damping:
      iter1: rank(B) = 150000 + 85*(1000000 DIV 2) DIV 100 = 575000
             rank(C) = 150000 + 85*(1000000 DIV 2 + 1000000) DIV 100
                     = 1425000,  rank(A) = 150000."""
    import tempfile

    from openslack_crawler_spark.queries_components import (
        RANK_HOSTS,
        q_link_rank,
    )

    # craft events whose (user_id % H, event_id % H) edges are exactly
    # A->B, A->C, B->C with A,B,C = 1,2,3
    rows = [
        (2, 1, "click"),              # src 1 -> dst 2
        (3, 1, "click"),              # src 1 -> dst 3
        (3, 2, "click"),              # src 2 -> dst 3
        (RANK_HOSTS + 1, 1, "view"),  # non-click: ignored
    ]
    ev = spark.createDataFrame(
        [(eid, None, uid, et, None, None) for eid, uid, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {r["host"]: r["rank_micro"] for r in q_link_rank(spark, d).collect()}
    # closed-form 3 iterations
    r = {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}
    for _ in range(3):
        c2 = r[1] // 2
        c3 = r[1] // 2 + r[2] // 1
        r = {
            1: 150_000,
            2: 150_000 + 85 * c2 // 100,
            3: 150_000 + 85 * c3 // 100,
        }
    assert got == r
    assert all(v > 0 for v in got.values())
