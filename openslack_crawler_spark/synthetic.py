"""Deterministic distributed synthetic data: frontier / seeds / robots /
page graph (BASELINE.md: "synthesise it deterministically at small
scale"; SURVEY.md §7 step 1).

Everything is a pure function of (seed, scale) built from
`spark.range(n)` + column expressions — generation itself is
distributed and deterministic, so the same code produces the 10^10-URL
frontier on a cluster and the 10^4-URL fixture in tests. Hosts follow a
power law (Zipf-ish via inverse-CDF over a hash-uniform) to exercise
hot-host skew handling (north_rule).

The "web" is a deterministic page graph: the outlinks and spans of a
page are pure functions of its URL identity, shared between the Spark
fetch simulator (plans/round_job.py) and the pure-Python parity oracle
(oracle.py) so both crawl the same web.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ZIPF_EXPONENT = 2.0  # inverse-CDF exponent → P(host rank r) ~ r^-2
N_OUTLINKS_MAX = 8


def _u01(col, seed: int):
    """Deterministic uniform(0,1) from a column (hash-based, no rand())."""
    return (F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(1_000_000_007)) + 1) / 1_000_000_008.0


def zipf_host(col, n_hosts: int, seed: int):
    """Power-law host id: small ids are hot (rank-1 host gets ~ r^-2 mass)."""
    u = _u01(col, seed)
    rank = F.floor(F.pow(u, F.lit(-1.0 / (ZIPF_EXPONENT - 1.0))))
    return F.least(rank, F.lit(n_hosts)).cast("int")


def gen_seeds(
    spark: SparkSession,
    n: int,
    n_hosts: int = 100,
    seed: int = 42,
    dup_frac: float = 0.1,
    messy_frac: float = 0.0,
    crawlid: str = "crawl-1",
    appid: str = "app-1",
) -> DataFrame:
    """Seed list: n raw URLs, ~dup_frac duplicates (same canonical URL at
    a later enqueue_seq) to exercise first-wins dedup semantics
    (dupefilter.py:39-44: first SADD wins). ~messy_frac of URLs arrive
    in non-canonical form (uppercase scheme/host, default port,
    unsorted query, fragment) — realistic crawl input that exercises
    the full canonicalizer slow path instead of the fixed-point fast
    path."""
    df = spark.range(n).withColumnRenamed("id", "i")
    # ~dup_frac of rows point at an earlier row's page id
    dup_u = _u01(F.col("i") + 7, seed)
    page_id = F.when(
        (dup_u < dup_frac) & (F.col("i") > 0),
        F.pmod(F.xxhash64(F.col("i"), F.lit(seed + 1)), F.col("i")),
    ).otherwise(F.col("i"))
    host_id = zipf_host(page_id, n_hosts, seed + 2)
    messy_u = _u01(F.col("i") + 13, seed + 4)
    clean_url = F.concat(
        F.lit("http://host-"),
        host_id.cast("string"),
        F.lit(".example/p/"),
        page_id.cast("string"),
    )
    messy_url = F.concat(
        F.lit("HTTP://Host-"),
        host_id.cast("string"),
        F.lit(".Example:80/p/"),
        page_id.cast("string"),
        F.lit("?b=2&a=1#frag"),
    )
    url = (
        F.when(messy_u < messy_frac, messy_url).otherwise(clean_url)
        if messy_frac > 0
        else clean_url
    )
    return (
        df.select(
            url.alias("url"),
            (1 + F.pmod(F.xxhash64(page_id, F.lit(seed + 3)), F.lit(100)))
            .cast("int")
            .alias("priority"),
            F.lit(appid).alias("appid"),
            F.lit(crawlid).alias("crawlid"),
            F.col("i").alias("enqueue_seq"),
        )
    )


def gen_robots(spark: SparkSession, n_hosts: int, seed: int = 42) -> DataFrame:
    """Robots/politeness table: per-host crawl delay 1-2s, cap 8
    (settings2.py:14-19,18), ~20% of hosts disallow the /private prefix."""
    h = spark.range(1, n_hosts + 1).withColumnRenamed("id", "hid")
    return h.select(
        F.concat(F.lit("host-"), F.col("hid").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        (1.0 + F.pmod(F.xxhash64("hid", F.lit(seed + 10)), F.lit(2)).cast("double"))
        .alias("crawl_delay"),
        F.lit(8).alias("max_parallel"),
        F.when(
            F.pmod(F.xxhash64("hid", F.lit(seed + 11)), F.lit(5)) == 0,
            F.array(F.lit("/private")),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("disallow"),
    )


# --------------------------------------------------------------------------
# Deterministic page graph — shared contract with oracle.py.
#
# For a page URL http://host-H.example/p/P:
#   n_out   = (P * 2654435761 + 97) % (N_OUTLINKS_MAX + 1)
#   child j: target page  C = (P * 31 + j * 7 + 13) % GRAPH_PAGES
#            target host  = (H + C) % n_hosts + 1      (cross-host links)
#            private flag = C % 7 == 0  → path /private/C else /p/C
#   spans: text span at offset 0 ("page P text"), then outlink spans
#          (kind='link', text=url) at offsets 1..n, an image span
#          (kind='image', media_ref='img-P') appended when P % 3 == 0.
# --------------------------------------------------------------------------
GRAPH_PAGES = 1_000_000


def outlink_exprs(page_id, host_id, n_hosts: int):
    """Column expression: array<struct<url,offset>> of a page's outlinks."""
    n_out = F.pmod(page_id * F.lit(2654435761) + F.lit(97), F.lit(N_OUTLINKS_MAX + 1))
    # sequence(1, 0) yields a DESCENDING [1,0], not empty — guard n_out=0
    j = F.when(n_out > 0, F.sequence(F.lit(1), n_out.cast("int"))).otherwise(
        F.array().cast("array<int>")
    )
    def link(jj):
        c = F.pmod(page_id * 31 + jj * 7 + 13, F.lit(GRAPH_PAGES))
        th = F.pmod(host_id + c, F.lit(n_hosts)) + 1
        path = F.when(c % 7 == 0, F.concat(F.lit("/private/"), c.cast("string"))).otherwise(
            F.concat(F.lit("/p/"), c.cast("string"))
        )
        return F.concat(
            F.lit("http://host-"), th.cast("string"), F.lit(".example"), path
        )
    return F.transform(
        j, lambda jj: F.struct(link(jj).alias("url"), jj.cast("int").alias("offset"))
    )


# Page id = the digits of the last path segment; a query string (a
# canonicalized messy seed: /p/17?a=1&b=2) is ignored. One pattern for
# the Spark expression and its Python twins.
PAGE_ID_RE = r"/(\d+)(?:\?.*)?$"
HOST_ID_RE = r"host-(\d+)\.example"


def page_id_of(url_col):
    """Inverse of the URL scheme above: numeric page id from path tail."""
    return F.regexp_extract(url_col, PAGE_ID_RE, 1).cast("long")


def host_id_of(url_col):
    return F.regexp_extract(url_col, HOST_ID_RE, 1).cast("long")


# pure-Python twins (used by the parity oracle — same constants)
def py_page_id(url: str) -> int:
    return int(re.search(PAGE_ID_RE, url).group(1))


def py_outlinks(url: str, n_hosts: int) -> list[str]:
    p = py_page_id(url)
    h = int(re.search(HOST_ID_RE, url).group(1))
    n_out = (p * 2654435761 + 97) % (N_OUTLINKS_MAX + 1)
    out = []
    for j in range(1, n_out + 1):
        c = (p * 31 + j * 7 + 13) % GRAPH_PAGES
        th = (h + c) % n_hosts + 1
        path = f"/private/{c}" if c % 7 == 0 else f"/p/{c}"
        out.append(f"http://host-{th}.example{path}")
    return out


def py_spans(url: str, n_hosts: int) -> list[tuple[str, str, str, int]]:
    """(kind, text, media_ref, offset) spans of a page — the interleaved
    text+media invariant target (input_hint: span-sequence equality)."""
    p = py_page_id(url)
    spans = [("text", f"page {p} text", "", 0)]
    for off, link in enumerate(py_outlinks(url, n_hosts), start=1):
        spans.append(("link", link, "", off))
    if p % 3 == 0:
        spans.append(("image", "", f"img-{p}", len(spans)))
    return spans
