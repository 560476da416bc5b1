"""Multi-format source loaders + the bucketed (shuffle-free) seen join
— the 'faster join strategy' for the 10^10-row seen table: bucketing
both sides on url_hash removes the per-round Exchange entirely."""

from pyspark.sql import functions as F

from openslack_crawler_spark import synthetic
from openslack_crawler_spark.sources.loaders import (
    export_documents_jsonl,
    load_seeds,
)


def test_seed_loaders_roundtrip(spark, tmp_path):
    seeds = synthetic.gen_seeds(spark, 200, n_hosts=10)
    want = {(r.url, r.priority, r.enqueue_seq) for r in seeds.collect()}
    for fmt in ("parquet", "json", "csv", "orc"):
        p = str(tmp_path / f"seeds_{fmt}")
        getattr(
            seeds.write.mode("overwrite").option("header", "true"), fmt
        )(p)
        got = load_seeds(spark, p, fmt)
        assert got.schema["url"].dataType.typeName() == "string"
        assert {(r.url, r.priority, r.enqueue_seq) for r in got.collect()} == want


def test_documents_jsonl_export(spark, tmp_path):
    docs = spark.createDataFrame(
        [("d1", [("text", "x", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    p = str(tmp_path / "docs_json")
    export_documents_jsonl(docs, p)
    back = spark.read.json(p)
    assert back.count() == 1 and "spans" in back.columns


def test_table_format_seam_signature_parity():
    """IcebergFormat must expose exactly the SnapshotParquetFormat surface
    run_crawl/run_round depend on (commit with appends=, compact, read
    with snapshot_id, ...) — the cluster path must not TypeError at the
    round-16 compaction. Both public method sets are enumerated, so a
    method added to one class only fails here."""
    import inspect

    from openslack_crawler_spark.sources.iceberg_format import IcebergFormat
    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    def surface(cls):
        return {
            name: inspect.signature(fn)
            for name, fn in inspect.getmembers(cls, inspect.isfunction)
            if not name.startswith("_")
        }

    twin, ice = surface(SnapshotParquetFormat), surface(IcebergFormat)
    assert set(twin) == set(ice) == {
        "current_snapshot_id", "current_manifest", "meta", "read",
        "commit", "compact", "expire_snapshots", "destroy",
    }
    for name, sig in twin.items():
        assert sig == ice[name], name


def test_expire_snapshots_bounds_storage(spark, tmp_path):
    """Snapshot expiry (Iceberg expire_snapshots twin): old manifests
    and unreferenced data dirs go away; the current state and time
    travel within the retention window survive — including append
    deltas that were WRITTEN by expired snapshots but are still
    referenced by kept ones."""
    import os

    from pyspark.sql import functions as F

    from openslack_crawler_spark.sources.table_format import SnapshotParquetFormat

    fmt = SnapshotParquetFormat(str(tmp_path / "s"), spark)
    base = spark.range(100).select(F.col("id").alias("k"))
    fmt.commit({"t": base})                       # sid 0
    for i in range(5):                            # sids 1-5: append deltas
        delta = spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k"))
        fmt.commit(appends={"log": delta})
    fmt.commit({"t": base.filter("k < 50")})      # sid 6

    report = fmt.expire_snapshots(keep_last=2)    # keep sids 5, 6
    assert report["removed_manifests"] == 5
    # sid-5's manifest still references sid-0's t dir → it must SURVIVE
    assert report["removed_dirs"] == 0

    # current state intact — including log deltas written by EXPIRED
    # snapshots (they're still referenced by kept manifests)
    assert fmt.read("t").count() == 50
    assert fmt.read("log").count() == 50
    # time travel inside the window works (sid 5 reads the OLD t)
    assert fmt.read("t", snapshot_id=5).count() == 100
    assert fmt.read("log", snapshot_id=5).count() == 50
    assert fmt.current_snapshot_id() == 6
    manifests = os.listdir(tmp_path / "s" / "manifests")
    assert sorted(manifests) == ["5.json", "6.json"]

    # tighten to keep_last=1: sid-0's t dir loses its last reference
    report2 = fmt.expire_snapshots(keep_last=1)
    assert report2["removed_manifests"] == 1
    assert report2["removed_dirs"] == 1           # the old full t dir
    assert fmt.read("t").count() == 50
    assert fmt.read("log").count() == 50          # deltas all still referenced


def test_deletes_table_is_read_time_equality_delete(spark, tmp_path):
    """`t_deletes` removes rows of `t` by their values on its columns,
    per snapshot: a delete of (k, seq 1) leaves an appended (k, seq 2),
    whether it lands in the same commit or a later one. Replacing `t`
    (updates=, compact) drops the deletes without changing what reads,
    and expiry keeps every delete dir a kept snapshot references."""
    import os

    from openslack_crawler_spark.sources.table_format import (
        SnapshotParquetFormat,
        deletes_of,
    )

    fmt = SnapshotParquetFormat(str(tmp_path / "s"), spark)
    t, d = "t", deletes_of("t")

    def rows(*r):
        return spark.createDataFrame(list(r), "k long, seq long, v string")

    def keys(*r):
        return spark.createDataFrame(list(r), "k long, seq long")

    def got(sid=None):
        return sorted(tuple(r) for r in fmt.read(t, snapshot_id=sid).collect())

    fmt.commit({t: rows((1, 1, "a"), (2, 1, "b"), (3, 1, "c"))})   # sid 0
    fmt.commit(appends={t: rows((1, 2, "a2")), d: keys((1, 1))})   # sid 1
    fmt.commit(appends={d: keys((2, 1))})                           # sid 2
    fmt.commit(appends={t: rows((2, 2, "b2"))})                     # sid 3
    want = {
        0: [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")],
        1: [(1, 2, "a2"), (2, 1, "b"), (3, 1, "c")],
        2: [(1, 2, "a2"), (3, 1, "c")],
        3: [(1, 2, "a2"), (2, 2, "b2"), (3, 1, "c")],
    }
    assert {sid: got(sid) for sid in want} == want
    assert got() == want[3]
    # reads take the schema the manifest recorded, for deletes too
    assert set(fmt.current_manifest()["schemas"]) == {t, d}

    # sids 2 and 3 stay; sid 1's delete dir is still referenced by both
    fmt.expire_snapshots(keep_last=2)
    dirs = fmt.current_manifest()["tables"][d]
    assert len(dirs) == 2 and all(os.path.isdir(p) for p in dirs)
    assert got(2) == want[2] and got() == want[3]

    fmt.compact(t)                                                  # sid 4
    m = fmt.current_manifest()
    assert d not in m["tables"] and d not in m["schemas"]
    assert len(m["tables"][t]) == 1 and got() == want[3]
    fmt.commit(appends={d: keys((3, 1))})                           # sid 5
    assert got() == want[3][:2]
    fmt.commit({t: fmt.read(t)})                                    # sid 6
    assert d not in fmt.current_manifest()["tables"] and got() == want[3][:2]
    assert got(3) == want[3]


def test_bucketed_seen_join_is_shuffle_free(spark, tmp_path):
    """bucketBy(url_hash) on both sides → the anti-join plan has NO
    Exchange (storage-partitioned join; Iceberg bucket(N, url_hash)
    gives the same on a cluster)."""
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    seen = spark.range(100000).select(F.xxhash64("id").alias("url_hash"))
    cands = spark.range(50000, 150000).select(F.xxhash64("id").alias("url_hash"))
    spark.sql("DROP TABLE IF EXISTS seen_b")
    spark.sql("DROP TABLE IF EXISTS cands_b")
    # a previous session's warehouse dirs survive the in-memory catalog;
    # saveAsTable refuses existing locations it didn't create
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("seen_b", "cands_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    seen.write.bucketBy(8, "url_hash").sortBy("url_hash").mode("overwrite").saveAsTable("seen_b")
    cands.write.bucketBy(8, "url_hash").sortBy("url_hash").mode("overwrite").saveAsTable("cands_b")
    j = spark.table("cands_b").join(spark.table("seen_b"), "url_hash", "left_anti")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]
    # and it is still exactly correct
    expected = cands.join(seen, "url_hash", "left_anti").count()
    assert j.count() == expected
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_message_sinks_plans_and_selection(spark, tmp_path):
    """S13/S17 dedicated sinks (round-3 verdict #6): wire-shape plans
    (routing_key '<spider>:items'; flume headers+body events) and the
    capability-gated selection policy, spooled in-sandbox."""
    import pytest

    from openslack_crawler_spark.sources import message_sinks as ms

    items = spark.createDataFrame(
        [("u1", "app", "c1", "hello"), ("u2", "app", "c2", "world")],
        "url string, appid string, crawlid string, text string",
    )

    # rabbitmq plan: reference's item_key is "%s:items" % spider.name
    rows = ms.rabbitmq_sink_plan(items, spider="wandering").collect()
    assert {r.routing_key for r in rows} == {"wandering:items"}
    assert all('"url":"u' in r.body for r in rows)

    # flume plan: headers carry routing metadata, body the full item
    ev = {r.headers["crawlid"]: r for r in ms.flume_sink_plan(items).collect()}
    assert set(ev) == {"c1", "c2"}
    assert ev["c1"].headers == {"appid": "app", "crawlid": "c1"}
    assert '"text":"hello"' in ev["c1"].body

    # selection policy: no client libs in-sandbox → spool twin
    assert not ms.rabbitmq_available() and not ms.flume_available()
    assert ms.choose_item_sink("rabbitmq", "amqp://x", str(tmp_path)) == "spool"
    assert ms.choose_item_sink("flume", None, str(tmp_path)) == "spool"
    with pytest.raises(RuntimeError, match="client lib"):
        ms.choose_item_sink("flume", "h:4141", None)
    with pytest.raises(ValueError):
        ms.choose_item_sink("celery", None, str(tmp_path))

    # spooled writes land the identical plan rows
    assert ms.write_rabbitmq(items, spool_dir=str(tmp_path / "rmq")) == "spool"
    assert ms.write_flume(items, spool_dir=str(tmp_path / "flume")) == "spool"
    assert spark.read.parquet(str(tmp_path / "rmq")).count() == 2
    got = spark.read.parquet(str(tmp_path / "flume")).select("headers", "body").count()
    assert got == 2


def test_band_index_probe_spj(spark):
    """Round-3 verdict #6 — prove the incremental-dedup SPJ claim
    (queries_textdedup.q_minhash_incremental_pairs docstring): with the
    MinHash band index bucketed by band_key = hash(band, band_sig)
    (Spark bucketBy here, Iceberg bucket(B, band_key) on a cluster), the
    new-batch probe join shuffles ONLY the probe side — the same
    storage-partitioned shape as the seen join — and finds the same
    pairs as the registered query."""
    from openslack_crawler_spark.queries_textdedup import (
        INCR_NEW_MOD,
        minhash_band_table,
        q_minhash_incremental_pairs,
        words_col,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", words_col(F.col("text")).alias("w"))
    )
    bands = minhash_band_table(docs).withColumn(
        "band_key", F.xxhash64("band", "band_sig")
    ).localCheckpoint()
    is_new = F.pmod(F.col("doc_id"), F.lit(INCR_NEW_MOD)) == 0
    index_bands = bands.filter(~is_new)
    probe_bands = bands.filter(is_new)

    # --- probe plan: index side storage-partitioned, probe side shuffles ---
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import shutil
    from urllib.parse import urlparse

    spark.sql("DROP TABLE IF EXISTS band_index_b")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/band_index_b", ignore_errors=True)
    (
        index_bands.write.bucketBy(16, "band_key").sortBy("band_key")
        .mode("overwrite").saveAsTable("band_index_b")
    )
    idx = spark.table("band_index_b").select(
        F.col("doc_id").alias("indexed_doc"),
        F.col("band").alias("i_band"),
        F.col("band_sig").alias("i_band_sig"),
        "band_key",
    )
    # The join key is band_key ALONE — an equality filter on
    # (band, band_sig) would be folded into the join keys by Catalyst
    # and defeat the bucket match; instead the real-signature equality
    # is verified inside the aggregate (conditional count + HAVING),
    # which stays out of the join condition. band_key collisions are
    # therefore joined but counted as 0 and dropped — exact.
    probed = (
        probe_bands.select(
            F.col("doc_id").alias("new_doc"), "band", "band_sig", "band_key"
        )
        .join(idx, "band_key")
        .groupBy("new_doc", "indexed_doc")
        .agg(
            F.sum(
                F.when(
                    (F.col("band") == F.col("i_band"))
                    & (F.col("band_sig") == F.col("i_band_sig")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_bands_match")
        )
        .filter(F.col("n_bands_match") > 0)
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # exactly ONE pre-join Exchange (probe side, on band_key) — the
    # index side reads its buckets in place (Bucketed: true, no
    # Exchange below the join on that side)
    assert plan.count("Exchange hashpartitioning(band_key") == 1, plan[:1500]
    assert "Bucketed: true" in plan, plan[:1500]
    index_subtree = plan.split("SortMergeJoin")[-1].split("FileScan")[0]
    assert "Exchange" not in index_subtree.rsplit("Sort ", 1)[-1]
    # value-level: same pairs as the registered incremental query
    expected = sorted(
        tuple(r) for r in q_minhash_incremental_pairs(spark, sf_dir).collect()
    )
    got = sorted(tuple(r) for r in probed.collect())
    assert got == expected
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
