"""Structured-Streaming ingest: the continuous twin of the batch round
loop (SURVEY.md §2.10 ST1/ST2).

The reference consumes crawl requests continuously from Kafka
(/root/reference/monitors/kafka/kafka-monitor.py:114-142) and spiders
poll on idle (/root/reference/crawler/schedulers/kafka/spiders.py:66-73).
The rebuild's deterministic batch rounds are the parity path (chosen
for crawl-ordering reproducibility); this module is the streaming
deployment shape: readStream → validate/normalize → foreachBatch →
frontier enqueue through the SAME operators, so each micro-batch is
one atomic snapshot commit (exactly-once via idempotent first-wins
dedup + seen anti-join — re-delivered requests are dropped as dupes,
ST4).

Kafka sources need the kafka connector jar (absent in-sandbox); the
file source below is connector-free and uses the identical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.url import with_url_columns
from ..operators import frontier as fr
from ..operators.seen_filter import filter_unseen, first_wins_dedup
from ..schemas import REQUEST_JSON_SCHEMA
from ..sources.table_format import SnapshotParquetFormat


def parse_requests(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """JSON → validated, defaulted request rows (kafka-monitor.py
    semantics: Draft4 validation + default injection, 55-74,114-142)."""
    req = raw.select(
        F.from_json(F.col(value_col).cast("string"), REQUEST_JSON_SCHEMA).alias("r")
    )
    return (
        req.filter(F.col("r.url").isNotNull() & F.col("r.appid").isNotNull())
        .select(
            F.col("r.url").alias("url"),
            F.col("r.appid").alias("appid"),
            F.coalesce(F.col("r.crawlid"), F.lit("default")).alias("crawlid"),
            F.coalesce(F.col("r.spiderid"), F.lit("link")).alias("spiderid"),
            F.coalesce(F.col("r.priority"), F.lit(1)).alias("priority"),  # schema default
            F.coalesce(F.col("r.maxdepth"), F.lit(0)).alias("maxdepth"),
            F.when(
                F.col("r.expires").isNotNull() & (F.col("r.expires") > 0),
                F.col("r.expires").cast("timestamp"),
            ).alias("expires"),
            F.coalesce(F.col("r.attrs"), F.create_map().cast("map<string,string>")).alias("attrs"),
        )
    )


def enqueue_batch(fmt: SnapshotParquetFormat, batch: DataFrame, epoch_id: int) -> None:
    """foreachBatch sink: one micro-batch → one snapshot commit through
    the standard enqueue operators. The commit appends to the frontier
    and the seen table; it never reads or rewrites the frontier."""
    meta = fmt.meta() or {"round": 0, "next_seq": 0}
    next_seq = int(meta.get("next_seq", 0))
    # arrival order: each request's position in the micro-batch, tagged
    # BEFORE canonicalization — the file source's analogue of a Kafka
    # (partition, offset). It breaks the tie between two requests with
    # the same appid and canonical URL, so first-wins keeps the earlier
    # arrival. The final enqueue_seq is assigned only AFTER dedup + seen
    # anti-join (as round_job step 8 does): assigning it first and
    # advancing next_seq by the kept count would let kept rows hold seqs
    # >= the new next_seq, so a later micro-batch would reuse them and
    # break the dense/monotone seq contract the pop tiebreak relies on.
    cands = batch.withColumn("_arrival", F.monotonically_increasing_id())
    cands = with_url_columns(cands, "url", canonicalize=True)
    cands = (
        cands.withColumn("depth", F.lit(0))
        .withColumn("retry_times", F.lit(0))
        .withColumn("dont_filter", F.lit(False))
        .withColumn("score", fr.score_expr())
    )
    cands = first_wins_dedup(cands, F.struct("appid", "url", "_arrival"))
    seen = fmt.read("seen")
    if seen is not None:
        cands = filter_unseen(cands, seen)
    # (appid, url) is unique once deduped: one row per canonical URL
    new_rows, n_new = fr.frontier_appends(
        cands, [F.col("appid").asc(), F.col("url").asc()], next_seq
    )
    fmt.commit(
        appends={"frontier": new_rows, "seen": fr.seen_rows(new_rows)},
        meta={"round": int(meta.get("round", 0)), "next_seq": next_seq + n_new,
              "epoch": int(epoch_id)},
    )


def kafka_available(spark: SparkSession) -> bool:
    """True when the kafka connector (spark-sql-kafka) is on the
    classpath — the capability check gating the real S2/S19 source."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def choose_request_source(
    spark: SparkSession,
    kafka_bootstrap: str | None = None,
    incoming_dir: str | None = None,
) -> str:
    """Source-selection policy: kafka when requested AND loadable, else
    the file twin. Pure decision logic (unit-testable without the jar)."""
    if kafka_bootstrap and kafka_available(spark):
        return "kafka"
    if incoming_dir:
        return "file"
    if kafka_bootstrap:
        raise RuntimeError(
            "kafka bootstrap given but the kafka connector jar is not on "
            "the classpath, and no incoming_dir fallback was provided"
        )
    raise ValueError("need kafka_bootstrap and/or incoming_dir")


def build_request_source(
    spark: SparkSession,
    kafka_bootstrap: str | None = None,
    topic: str = "demo.incoming_urls",
    incoming_dir: str | None = None,
    streaming: bool = True,
    starting_offsets: str = "earliest",
):
    """The raw request source plan (S2/S19): a kafka reader when the
    connector is loadable (kafka-monitor.py:114-142's consumer; batch
    mode with startingOffsets=earliest is the kafkadump.py:50-60 topic
    scan), else the connector-free file twin with the identical
    downstream plan. Returns (DataFrame with a string `value` column,
    chosen source name)."""
    chosen = choose_request_source(spark, kafka_bootstrap, incoming_dir)
    reader = spark.readStream if streaming else spark.read
    if chosen == "kafka":
        raw = (
            reader.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
            .selectExpr("CAST(value AS STRING) AS value")
        )
    else:
        raw = reader.format("text").load(incoming_dir)
    return raw, chosen


def start_request_ingest(
    spark: SparkSession,
    fmt: SnapshotParquetFormat,
    incoming_dir: str | None = None,
    kafka_bootstrap: str | None = None,
    topic: str = "demo.incoming_urls",
):
    """Watch the request source (kafka topic when the connector is
    present, else a directory of json request files — the stand-in for
    `demo.incoming_urls`) and enqueue each micro-batch atomically."""
    raw, _ = build_request_source(
        spark, kafka_bootstrap=kafka_bootstrap, topic=topic,
        incoming_dir=incoming_dir, streaming=True,
    )
    parsed = parse_requests(raw, "value")
    return (
        parsed.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: enqueue_batch(fmt, df, eid))
        .trigger(availableNow=True)
        .start()
    )
