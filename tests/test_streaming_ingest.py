"""Streaming request ingest (ST1-ST4): json files → validated requests
→ atomic micro-batch enqueue; redelivery is idempotent."""

import json
import uuid

from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat
from openslack_crawler_spark.streaming.ingest import (
    build_request_source,
    enqueue_batch,
    parse_requests,
    start_request_ingest,
)


def _write_requests(d, rows, name):
    with open(d / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_file_ingest_enqueues_and_dedups(spark, tmp_path):
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    reqs = [
        {"url": "http://a.example/1", "appid": "app", "priority": 9},
        {"url": "http://a.example/2", "appid": "app"},
        {"url": "http://A.EXAMPLE/1", "appid": "app"},  # dupe after canonicalize
        {"appid": "no-url-invalid"},
    ]
    _write_requests(incoming, reqs, "batch1.json")
    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    q = start_request_ingest(spark, fmt, incoming_dir=str(incoming))
    q.awaitTermination(120)

    frontier = fmt.read("frontier")
    rows = {r.url: r for r in frontier.collect()}
    assert set(rows) == {"http://a.example/1", "http://a.example/2"}
    assert rows["http://a.example/1"].priority == 9
    assert rows["http://a.example/2"].priority == 1  # schema default injected

    # redelivery: the same requests arrive again → all dropped as seen
    _write_requests(incoming, reqs[:3], "batch2.json")
    q2 = start_request_ingest(spark, fmt, incoming_dir=str(incoming))
    q2.awaitTermination(120)
    assert fmt.read("frontier").count() == 2


def test_kafka_source_selection_logic(spark, tmp_path, monkeypatch):
    """S2/S19 capability gating: kafka plan when the connector class is
    loadable, file twin otherwise; explicit error when kafka was asked
    for with no fallback."""
    import pytest

    from openslack_crawler_spark.streaming import ingest as ing

    # sandbox has no kafka jar
    assert ing.kafka_available(spark) is False
    assert (
        ing.choose_request_source(spark, "broker:9092", str(tmp_path)) == "file"
    )
    assert ing.choose_request_source(spark, None, str(tmp_path)) == "file"
    with pytest.raises(RuntimeError):
        ing.choose_request_source(spark, "broker:9092", None)
    with pytest.raises(ValueError):
        ing.choose_request_source(spark, None, None)
    # with the connector present the kafka plan is chosen
    monkeypatch.setattr(ing, "kafka_available", lambda s: True)
    assert ing.choose_request_source(spark, "broker:9092", str(tmp_path)) == "kafka"
    # and the file twin builds a real streaming plan with a value column
    df, chosen = ing.build_request_source(
        spark, incoming_dir=str(tmp_path), streaming=True
    )
    assert chosen == "file" and df.columns == ["value"] and df.isStreaming


def test_ingest_seq_dense_and_unique_across_batches(spark, tmp_path):
    """enqueue_seq must stay dense and unique even when a batch loses
    rows to dedup/seen-filter: seqs are assigned AFTER filtering, so
    next_seq never hands out a value a kept row already holds (round-1
    ADVICE: pre-filter assignment let later batches reuse seqs)."""
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    # batch 1: 3 candidates, 1 intra-batch dupe → 2 kept
    _write_requests(
        incoming,
        [
            {"url": "http://h0.example/1", "appid": "app"},
            {"url": "http://h0.example/2", "appid": "app"},
            {"url": "http://H0.EXAMPLE/2", "appid": "app"},  # dupe
        ],
        "b1.json",
    )
    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)
    q = start_request_ingest(spark, fmt, incoming_dir=str(incoming))
    q.awaitTermination(120)
    assert fmt.meta()["next_seq"] == 2

    # batch 2: 1 seen + 2 new → seqs must continue 2,3 with no overlap
    _write_requests(
        incoming,
        [
            {"url": "http://h0.example/1", "appid": "app"},  # seen
            {"url": "http://h1.example/1", "appid": "app"},
            {"url": "http://h1.example/2", "appid": "app"},
        ],
        "b2.json",
    )
    q2 = start_request_ingest(spark, fmt, incoming_dir=str(incoming))
    q2.awaitTermination(120)
    seqs = sorted(r.enqueue_seq for r in fmt.read("frontier").collect())
    assert seqs == [0, 1, 2, 3]  # dense, monotone, no duplicates
    assert fmt.meta()["next_seq"] == 4
    # seen rows carry the enqueue_seq they entered with (added_seq)
    added = {r.added_seq for r in fmt.read("seen").collect()}
    assert added == {0, 1, 2, 3}


# Spark jobs of one enqueue_batch into an existing store, as measured
# (local[4]): parse + canonicalize, dedup, seen anti-join, one
# with_dense_seq pass and the commit's two appends (the seen read infers
# no schema, and the frontier is not read). The sequencing ranks inside
# its range partitions, so the appends run no shuffle, and both writes
# read them straight off its range cut (a cut of their own adds one job)
INGEST_BATCH_MAX_JOBS = 7


def test_ingest_batch_job_count(spark, tmp_path):
    """A micro-batch that grows a Spark job (a recomputed count, a
    driver round trip in sequencing) fails here before it shows in a
    benchmark."""
    fmt = SnapshotParquetFormat(str(tmp_path / "store"), spark)

    def batch(name, rows):
        d = tmp_path / name
        d.mkdir()
        _write_requests(d, rows, "part-0.json")
        raw, _ = build_request_source(spark, incoming_dir=str(d), streaming=False)
        return parse_requests(raw)

    enqueue_batch(fmt, batch("b0", [
        {"url": f"http://h{i % 3}.example/{i}", "appid": "app"} for i in range(20)
    ]), 0)
    second = batch("b1", [
        {"url": f"http://H{i % 3}.EXAMPLE/{i}", "appid": "app"} for i in range(10, 40)
    ])
    sc = spark.sparkContext
    group = f"ingest-batch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one ingest micro-batch")
    try:
        enqueue_batch(fmt, second, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert fmt.meta()["next_seq"] == 40  # pages 10-19 are seen
    assert 0 < jobs <= INGEST_BATCH_MAX_JOBS, jobs
