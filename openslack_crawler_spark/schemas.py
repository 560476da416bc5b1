"""Frozen StructTypes for every engine table.

The reference is schema-on-write (any dict key goes — Scrapy Items,
pickled request dicts: /root/reference/crawler/schedulers/kafka/
scheduler.py:105-122); Spark requires frozen schemas, so extensibility
lives in the `attrs` map column. Shapes follow FIXTURES.md and
BASELINE.json input_hint.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- frontier: one row per pending crawl request --------------------------
# mirror of the request dict (scheduler.py:105-122,160-186) +
# scraper_schema.json:1-65 defaults.
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("host_hash", T.LongType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("maxdepth", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("appid", T.StringType(), True),
        T.StructField("crawlid", T.StringType(), True),
        T.StructField("spiderid", T.StringType(), True),
        T.StructField("retry_times", T.IntegerType(), False),
        T.StructField("expires", T.TimestampType(), True),  # null = never
        T.StructField("dont_filter", T.BooleanType(), False),
        T.StructField("enqueue_seq", T.LongType(), False),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# --- seen: the URL-seen set (dupefilter.py:39-44 → 64-bit hash table) ------
# added_seq semantics: the enqueue_seq the fingerprint entered the
# frontier with (bootstrap, streaming ingest, and round commits all
# populate it); NULL only for fingerprints whose candidate was dropped
# by the blacklist/expiry/depth enqueue filters (they enter the seen
# set per check-and-insert but never got a frontier row). dont_filter
# rows (retries) never enter seen: in the reference they skip the
# dupefilter entirely (frontier.seen_rows is the one projection). added_seq
# orders fingerprint-TTL expiry (queries_sessions.seen_ttl_expiry). An
# exact window over the seen table is enough for the TTL (exact beats
# the bloom wherever seen is scannable, see operators/seen_filter.py);
# should a probabilistic one ever be needed, the learned sliding-window
# cuckoo filter (SIGMOD 2023) is the design to start from.
SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("crawlid", T.StringType(), True),
        T.StructField("added_seq", T.LongType(), True),
    ]
)

# --- documents: interleaved text + media (BASELINE.json input_hint) --------
SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # text|image|file|link
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("crawlid", T.StringType(), True),
        T.StructField("fetched_round", T.IntegerType(), True),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), False),
    ]
)

# --- seeds (redis/spiders.py:16,25-35 list/set of start URLs) --------------
SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("appid", T.StringType(), True),
        T.StructField("crawlid", T.StringType(), True),
        T.StructField("enqueue_seq", T.LongType(), False),
    ]
)

# --- robots / politeness budget (settings2.py:14-19, settings.py:138) ------
ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
        T.StructField("max_parallel", T.IntegerType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), False),
    ]
)

# --- blacklist (redis-monitor.py:279-284,317-322) ---------------------------
BLACKLIST_SCHEMA = T.StructType(
    [
        T.StructField("appid", T.StringType(), False),
        T.StructField("crawlid", T.StringType(), False),
        T.StructField("reason", T.StringType(), True),  # stop|expire
    ]
)

# --- counters: per-round per-partition lineage (extensions/stats.py:46-55) --
COUNTERS_SCHEMA = T.StructType(
    [
        T.StructField("round_id", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.LongType(), False),
    ]
)

# --- external crawl-request JSON API (monitors/kafka/scraper_schema.json) ---
REQUEST_JSON_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("appid", T.StringType(), True),
        T.StructField("crawlid", T.StringType(), True),
        T.StructField("spiderid", T.StringType(), True),
        T.StructField("priority", T.IntegerType(), True),
        T.StructField("maxdepth", T.IntegerType(), True),
        T.StructField("allowed_domains", T.ArrayType(T.StringType()), True),
        T.StructField("allow_regex", T.StringType(), True),
        T.StructField("deny_regex", T.StringType(), True),
        T.StructField("deny_extensions", T.ArrayType(T.StringType()), True),
        T.StructField("expires", T.LongType(), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# --- media table (content-addressed store, pipelines/file.py:258-264) -------
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_key", T.StringType(), False),  # sha1(url)
        T.StructField("url", T.StringType(), False),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("checksum", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),  # opaque bytes
        T.StructField("fetched_round", T.IntegerType(), True),
        T.StructField("fetched_at", T.TimestampType(), True),
    ]
)
