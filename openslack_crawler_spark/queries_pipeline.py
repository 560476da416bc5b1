"""Pipeline-surface queries: JSON request ingest + validation (S3),
streaming windowed ingest (ST1-ST4), multimodal binary-column plumbing
(S15/S16), sink-shaped rewrites and scalar kernels (C10/C17-C19, F11,
ST6), and the end-to-end crawl round (rows-only — it exercises disk
snapshots, which SQL can't express)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .queries_textdedup import h60


def _t(spark, sf_dir, name):
    # timestamp results must not depend on the caller's session TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- S3: JSON crawl-request ingest + Draft4-style defaults ------------------
# (kafka-monitor.py:114-142 validate; 55-74 default injection)
def q_request_ingest(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    # synthesize the external JSON API payloads
    raw = events.select(
        F.to_json(
            F.struct(
                F.concat(F.lit("http://host-"), F.col("user_id").cast("string"),
                         F.lit(".example/p/"), F.col("event_id").cast("string")).alias("url"),
                F.col("event_type").alias("appid"),
                F.when(F.pmod("event_id", F.lit(3)) == 0, F.floor("value").cast("int")).alias("priority"),
            )
        ).alias("payload")
    )
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("appid", T.StringType()),
            T.StructField("priority", T.IntegerType()),
        ]
    )
    parsed = raw.select(F.from_json("payload", schema).alias("req"))
    return parsed.select(
        F.col("req.url").alias("url"),
        F.col("req.appid").alias("appid"),
        F.coalesce(F.col("req.priority"), F.lit(1)).alias("priority"),  # schema default 1
    ).filter(F.col("req.url").isNotNull())  # required-field validation


SQL_REQUEST_INGEST = """
SELECT concat('http://host-', user_id, '.example/p/', event_id) AS url,
       event_type AS appid,
       CASE WHEN event_id % 3 = 0 THEN cast(floor(value) AS int) ELSE 1 END AS priority
FROM events
"""


# --- ST1-ST4: streaming windowed ingest (memory-sink smoke) ------------------
def q_streaming_window_counts(spark, sf_dir):
    events_schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(events_schema)
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .parquet(sf_dir)
    )
    # parquet stores TIMESTAMP_NTZ; watermarks need TIMESTAMP (session
    # TZ is pinned UTC, so the cast is value-preserving)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
        )
    )
    import uuid

    name = "stream_out_" + uuid.uuid4().hex[:10]  # unique per invocation
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


SQL_STREAMING_WINDOW_COUNTS = """
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


# --- S15/S16: multimodal binary columns + decode-stub over mapInPandas -------
# Real Spark plumbing (binary column, Arrow batches, schema); the decode
# itself is a deterministic fake (no image libs in this container —
# see file.py:170-264 / image.py:41-64 for the reference pipelines).
def q_multimodal_features(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def decode_stub(batches):
        for pdf in batches:
            n = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "width": (n % 640).astype("int32"),
                    "height": (n % 480).astype("int32"),
                    "format": ["fake/raw"] * len(pdf),
                }
            )

    return docs.mapInPandas(
        decode_stub,
        schema="doc_id long, n_bytes long, width int, height int, format string",
    )


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id, cast(length(text) AS bigint) AS n_bytes,
       cast(length(text) % 640 AS int) AS width,
       cast(length(text) % 480 AS int) AS height,
       'fake/raw' AS format
FROM documents
"""


# --- F11: content-type / extension validity filter (file.py:279-285) ---------
def q_content_type_filter(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ext = F.element_at(
        F.array(F.lit("html"), F.lit("jpg"), F.lit("pdf"), F.lit("zip")),
        (F.pmod("doc_id", F.lit(4)) + 1).cast("int"),
    )
    return (
        docs.withColumn("ext", ext)
        .filter(F.col("ext").isin("html", "pdf"))
        .select("doc_id", "ext")
    )


SQL_CONTENT_TYPE_FILTER = """
SELECT doc_id, ['html','jpg','pdf','zip'][cast(doc_id % 4 AS int) + 1] AS ext
FROM documents
WHERE ['html','jpg','pdf','zip'][cast(doc_id % 4 AS int) + 1] IN ('html', 'pdf')
"""


# --- C18: deterministic UA/proxy rotation (rotate_useragent.py:44-58) --------
def q_ua_rotation(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("http://d/"), F.col("doc_id").cast("string"))
    uas = F.array(F.lit("ua-firefox"), F.lit("ua-chrome"), F.lit("ua-safari"))
    return docs.select(
        "doc_id",
        F.element_at(uas, (F.pmod(h60(url), F.lit(3)) + 1).cast("int")).alias("user_agent"),
    )


SQL_UA_ROTATION = """
SELECT doc_id,
       ['ua-firefox','ua-chrome','ua-safari'][
         cast(cast(concat('0x', substr(md5(concat('http://d/', doc_id)), 1, 15)) AS bigint) % 3 AS int) + 1
       ] AS user_agent
FROM documents
"""


# --- C19: google-cache URL rewrite (google_cache.py:33-52) --------------------
def q_cache_rewrite(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("http://host-"), (F.pmod("doc_id", F.lit(7))).cast("string"),
                   F.lit(".example/p/"), F.col("doc_id").cast("string"))
    cached = F.when(
        F.pmod("doc_id", F.lit(2)) == 0,
        F.concat(F.lit("http://cache.example/cache?q="), url),
    ).otherwise(url)
    stripped = F.regexp_replace(cached, "^http://cache\\.example/cache\\?q=", "")
    return docs.select("doc_id", cached.alias("cached_url"), stripped.alias("original_url"))


SQL_CACHE_REWRITE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0
            THEN concat('http://cache.example/cache?q=', 'http://host-', doc_id % 7, '.example/p/', doc_id)
            ELSE concat('http://host-', doc_id % 7, '.example/p/', doc_id) END AS cached_url,
       concat('http://host-', doc_id % 7, '.example/p/', doc_id) AS original_url
FROM documents
"""


# --- C10: duration normalization H:M:S with carry (processors.py:102-151) ----
def q_duration_normalize(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    total = F.floor(F.col("value") * 10).cast("long")
    return events.select(
        "event_id",
        total.alias("total_secs"),
        F.concat_ws(
            ":",
            F.lpad((total / 3600).cast("long").cast("string"), 2, "0"),
            F.lpad(F.pmod((total / 60).cast("long"), F.lit(60)).cast("string"), 2, "0"),
            F.lpad(F.pmod(total, F.lit(60)).cast("string"), 2, "0"),
        ).alias("duration"),
    )


SQL_DURATION_NORMALIZE = """
SELECT event_id, cast(floor(value * 10) AS bigint) AS total_secs,
       concat(
         lpad(cast(cast(floor(value * 10) AS bigint) // 3600 AS varchar), 2, '0'), ':',
         lpad(cast((cast(floor(value * 10) AS bigint) // 60) % 60 AS varchar), 2, '0'), ':',
         lpad(cast(cast(floor(value * 10) AS bigint) % 60 AS varchar), 2, '0')
       ) AS duration
FROM events
"""


# --- ST6/W3: retry stream union with decayed priority (redis_retry.py:9-22) --
def q_retry_union(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    req = events.select(
        "event_id", "event_type", F.floor("value").cast("int").alias("priority")
    )
    ok = req.filter(F.col("event_type") != "error").withColumn("retry_times", F.lit(0))
    retried = (
        req.filter(F.col("event_type") == "error")
        .withColumn("priority", F.col("priority") - 10)
        .withColumn("retry_times", F.lit(1))
    )
    return ok.unionByName(retried)


SQL_RETRY_UNION = """
SELECT event_id, event_type, cast(floor(value) AS int) AS priority, 0 AS retry_times
FROM events WHERE event_type <> 'error'
UNION ALL
SELECT event_id, event_type, cast(floor(value) AS int) - 10 AS priority, 1 AS retry_times
FROM events WHERE event_type = 'error'
"""


# --- C17: headers multimap reconstruction (redis_spider.py:31-56) -------------
def q_headers_multimap(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    headers = F.create_map(
        F.lit("x-type"), F.array(F.col("event_type")),
        F.lit("x-user"), F.array(F.col("user_id").cast("string")),
    )
    exploded = events.select(
        "event_id", F.explode(headers).alias("hkey", "hvals")
    )
    return exploded.select(
        "event_id", "hkey", F.element_at("hvals", 1).alias("hval")
    )


SQL_HEADERS_MULTIMAP = """
SELECT event_id, 'x-type' AS hkey, event_type AS hval FROM events
UNION ALL
SELECT event_id, 'x-user' AS hkey, cast(user_id AS varchar) AS hval FROM events
"""


# --- the end-to-end crawl round job (rows-only: snapshot side effects) --------
def q_crawl_e2e(spark, sf_dir):
    """2-round crawl over a deterministic synthetic seed list; returns
    the crawl-ordering log. Rows-only check (disk snapshots + pandas
    UDF canonicalization are not SQL-expressible)."""
    import shutil
    import tempfile

    from . import synthetic
    from .plans import round_job as rj

    root = tempfile.mkdtemp(prefix="crawl_e2e_")
    shutil.rmtree(root, ignore_errors=True)
    seeds = synthetic.gen_seeds(spark, 200, n_hosts=20)
    robots = synthetic.gen_robots(spark, 20)
    cfg = rj.CrawlConfig(n_hosts=20, k_per_host=4, maxdepth=2)
    fmt = rj.run_crawl(spark, root, seeds, robots, cfg, rounds=2)
    return rj.crawl_order(fmt).select(
        "round_id", "url", "host", "score", "enqueue_seq", "fetch_at"
    )


# --- crawl summary with a FULL SQL oracle (round-3 verdict #8) -----------------
SUMMARY_SEEDS = 200
SUMMARY_PAGES = 180      # seeds 180..199 duplicate pages 0..19
SUMMARY_HOSTS = 20
SUMMARY_K = 4
SUMMARY_MAXDEPTH = 2
SUMMARY_ROUNDS = 3


def _summary_seeds(spark):
    """SQL-expressible seed list (arithmetic only — no xxhash, unlike
    synthetic.gen_seeds — so a DuckDB oracle can recompute the crawl).
    Three kinds of seeds:
      i < 150   base pages: page i on host (i%20)+1
      150..179  child-dups: the j=1 OUTLINK of base seed i-150 — these
                pre-seed pages the crawl will re-discover, so the seen
                anti-join fires in-round (deduped > 0 in the summary)
      180..199  exact URL dups of base i-180 (bootstrap first-wins)"""
    i = F.col("id")
    base = F.when(i < 180, F.when(i < 150, i).otherwise(i - 150)).otherwise(i - 180)
    bhost = (base % SUMMARY_HOSTS) + 1
    cpage = (base * 31 + 20) % 1_000_000  # synthetic graph child j=1
    chost = (bhost + cpage) % SUMMARY_HOSTS + 1
    is_childdup = (i >= 150) & (i < 180)
    page = F.when(is_childdup, cpage).otherwise(base)
    host = F.when(is_childdup, chost).otherwise(bhost)
    return spark.range(SUMMARY_SEEDS).select(
        F.concat(
            F.lit("http://host-"), host.cast("string"),
            F.lit(".example/p/"), page.cast("string"),
        ).alias("url"),
        ((i * 37) % 100 + 1).cast("int").alias("priority"),
        F.lit("app-1").alias("appid"),
        F.lit("crawl-1").alias("crawlid"),
        i.alias("enqueue_seq"),
    )


def _summary_robots(spark):
    """Hosts divisible by 5 disallow /private; delays don't affect counts."""
    hid = F.col("id")
    return spark.range(1, SUMMARY_HOSTS + 1).select(
        F.concat(F.lit("host-"), hid.cast("string"), F.lit(".example")).alias("host"),
        F.lit(1.0).alias("crawl_delay"),
        F.lit(8).alias("max_parallel"),
        F.when(hid % 5 == 0, F.array(F.lit("/private")))
        .otherwise(F.array().cast("array<string>"))
        .alias("disallow"),
    )


def q_crawl_e2e_summary(spark, sf_dir):
    """Run a REAL 3-round crawl through the engine (bootstrap → dequeue
    → robots → fetch → extract → dedup → seen → enqueue, one snapshot
    per round), then summarize per round from the engine's own stored
    state: fetched + enqueued from the counters table, candidate volume
    from the stored documents' link spans, seen_size by TIME-TRAVEL
    reading the seen table at each round's snapshot. The DuckDB oracle
    recomputes every number independently by unrolling the 3 rounds in
    SQL over the same arithmetic page graph — the strong-form check of
    the whole scheduling loop (dedup semantics, robots, depth guard,
    per-host budget, seq assignment)."""
    import shutil
    import tempfile

    from .plans import round_job as rj

    root = tempfile.mkdtemp(prefix="crawl_summary_")
    shutil.rmtree(root, ignore_errors=True)
    cfg = rj.CrawlConfig(
        n_hosts=SUMMARY_HOSTS, k_per_host=SUMMARY_K, maxdepth=SUMMARY_MAXDEPTH
    )
    fmt = rj.run_crawl(
        spark, root, _summary_seeds(spark), _summary_robots(spark), cfg,
        rounds=SUMMARY_ROUNDS,
    )
    counters = fmt.read("counters")
    docs = fmt.read("documents")
    logs = fmt.read("fetch_log")
    rows = []
    for r in range(1, SUMMARY_ROUNDS + 1):
        by_metric = {
            m["metric"]: m["v"]
            for m in counters.filter(F.col("round_id") == r)
            .groupBy("metric")
            .agg(F.sum("value").alias("v"))
            .collect()
        }
        fetched = int(by_metric.get("scheduler/dequeued", 0))
        enqueued = int(by_metric.get("scheduler/enqueued", 0))
        n_cands = (
            docs.filter(F.col("fetched_round") == r)
            .join(
                logs.filter(F.col("round_id") == r).select("url_hash", "depth"),
                "url_hash",
            )
            .filter(F.col("depth") < SUMMARY_MAXDEPTH)
            .select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "link")
            .count()
        )
        seen_size = fmt.read("seen", snapshot_id=r).count()
        rows.append((r, fetched, enqueued, n_cands - enqueued, seen_size))
    fmt.destroy()
    return spark.createDataFrame(
        rows, "round_id int, fetched long, enqueued long, deduped long, seen_size long"
    )


def _summary_round_sql(r: int) -> str:
    """One unrolled crawl round as DuckDB CTE fragments (state threads
    through f{r}/s{r}; scalar next_seq via nq{r})."""
    p = r - 1
    return f"""
, pop{r} AS (
  SELECT * FROM (
    SELECT f.*, row_number() OVER (
      PARTITION BY host ORDER BY score DESC, seq ASC) AS hr
    FROM f{p} f
  ) WHERE hr <= {SUMMARY_K}
), batch{r} AS (
  SELECT * FROM pop{r} WHERE NOT (host % 5 = 0 AND private)
), cand{r} AS (
  -- crank = the engine's pop order (parent score desc, parent seq asc,
  -- anchor offset asc), the key its first-wins dedup and enqueue_seq
  -- follow, computed where score/seq still unambiguously mean the PARENT's
  SELECT 'http://host-' || th || '.example' ||
         (CASE WHEN pvt THEN '/private/' ELSE '/p/' END) || c AS url,
         th AS host, c AS page, pvt AS private,
         depth + 1 AS depth, priority - 10 AS priority,
         cast(priority - 10 AS double) AS score,
         crank
  FROM (
    SELECT b.depth, b.priority, j,
           (b.page * 31 + j * 7 + 13) % 1000000 AS c,
           ((b.host + (b.page * 31 + j * 7 + 13) % 1000000) % {SUMMARY_HOSTS}) + 1 AS th,
           ((b.page * 31 + j * 7 + 13) % 1000000) % 7 = 0 AS pvt,
           row_number() OVER (ORDER BY b.score DESC, b.seq ASC, j ASC) AS crank
    FROM batch{r} b, generate_series(1, 8) AS t(j)
    WHERE b.depth < {SUMMARY_MAXDEPTH}
      AND j <= (b.page * 2654435761 + 97) % 9
  )
), nq{r} AS (
  SELECT nq + (SELECT count(*) FROM (
    SELECT DISTINCT url FROM cand{r}
    WHERE url NOT IN (SELECT url FROM s{p}))) AS nq
  FROM nq{p}
), surv{r} AS (
  SELECT url, host, page, private, depth, priority, score,
         (SELECT nq FROM nq{p}) + row_number() OVER (ORDER BY crank) - 1 AS seq
  FROM (
    SELECT c.*, row_number() OVER (PARTITION BY url ORDER BY crank) AS urn
    FROM cand{r} c
    WHERE url NOT IN (SELECT url FROM s{p})
  ) WHERE urn = 1
), s{r} AS (
  SELECT url FROM s{p} UNION ALL SELECT url FROM surv{r}
), f{r} AS (
  SELECT url, host, page, private, depth, priority, score, seq FROM f{p}
  WHERE url NOT IN (SELECT url FROM pop{r})
  UNION ALL
  SELECT url, host, page, private, depth, priority, score, seq FROM surv{r}
)"""


SQL_CRAWL_E2E_SUMMARY = (
    f"""
WITH seeds AS (
  SELECT i,
         CASE WHEN i >= 150 AND i < 180 THEN cpage ELSE base END AS page,
         CASE WHEN i >= 150 AND i < 180 THEN chost ELSE bhost END AS host,
         (i * 37) % 100 + 1 AS priority
  FROM (
    SELECT i, base, bhost, cpage, (bhost + cpage) % {SUMMARY_HOSTS} + 1 AS chost
    FROM (
      SELECT i, base, base % {SUMMARY_HOSTS} + 1 AS bhost,
             (base * 31 + 20) % 1000000 AS cpage
      FROM (
        SELECT i, CASE WHEN i < 150 THEN i
                       WHEN i < 180 THEN i - 150
                       ELSE i - 180 END AS base
        FROM generate_series(0, {SUMMARY_SEEDS - 1}) AS t(i)
      )
    )
  )
), f0 AS (
  SELECT 'http://host-' || host || '.example/p/' || page AS url,
         host, page, false AS private, 0 AS depth, priority,
         cast(priority AS double) AS score, i AS seq
  FROM (
    SELECT s.*, row_number() OVER (PARTITION BY page, host ORDER BY i) AS rn
    FROM seeds s
  ) WHERE rn = 1
), s0 AS (
  SELECT url FROM f0
), nq0 AS (
  SELECT max(seq) + 1 AS nq FROM f0
)"""
    + "".join(_summary_round_sql(r) for r in range(1, SUMMARY_ROUNDS + 1))
    + "\nUNION ALL\n".join(
        f"""
SELECT {r} AS round_id,
       (SELECT count(*) FROM batch{r}) AS fetched,
       (SELECT count(*) FROM surv{r}) AS enqueued,
       (SELECT count(*) FROM cand{r}) - (SELECT count(*) FROM surv{r}) AS deduped,
       (SELECT count(*) FROM s{r}) AS seen_size"""
        for r in range(1, SUMMARY_ROUNDS + 1)
    )
)


# --- bloom-prefiltered dedup: same answer as the exact anti-join ---------------
def q_bloom_prefilter_dedup(spark, sf_dir):
    """The partitioned-bloom seen filter (F3/O2) — the bloom is a
    prefilter, so the result equals plain NOT IN, which IS the oracle."""
    from .operators.seen_filter import PartitionedBloom

    orders = _t(spark, sf_dir, "orders")
    cands = orders.select(
        F.col("o_orderkey").alias("url_hash"),
        F.col("o_orderkey").alias("enqueue_seq"),
        F.lit(False).alias("dont_filter"),
    )
    seen = orders.filter(F.col("o_totalprice") > 250000).select(
        F.col("o_orderkey").alias("url_hash")
    )
    bloom = PartitionedBloom(num_blocks=8, bits=1 << 20)
    blocks = bloom.build(seen)
    out = bloom.prefiltered_unseen(cands, seen, blocks)
    return out.select(F.col("url_hash").alias("o_orderkey"))


SQL_BLOOM_PREFILTER_DEDUP = """
SELECT o_orderkey FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 250000)
"""


REGISTRY: dict[str, tuple] = {
    "request_ingest": (q_request_ingest, SQL_REQUEST_INGEST),
    "streaming_window_counts": (q_streaming_window_counts, SQL_STREAMING_WINDOW_COUNTS),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "content_type_filter": (q_content_type_filter, SQL_CONTENT_TYPE_FILTER),
    "ua_rotation": (q_ua_rotation, SQL_UA_ROTATION),
    "cache_rewrite": (q_cache_rewrite, SQL_CACHE_REWRITE),
    "duration_normalize": (q_duration_normalize, SQL_DURATION_NORMALIZE),
    "retry_union": (q_retry_union, SQL_RETRY_UNION),
    "headers_multimap": (q_headers_multimap, SQL_HEADERS_MULTIMAP),
    "crawl_e2e": (q_crawl_e2e, None),
    "crawl_e2e_summary": (q_crawl_e2e_summary, SQL_CRAWL_E2E_SUMMARY),
    "bloom_prefilter_dedup": (q_bloom_prefilter_dedup, SQL_BLOOM_PREFILTER_DEDUP),
}
