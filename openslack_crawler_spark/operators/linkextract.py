"""Link extraction over interleaved document spans + request-scoped
link predicates — the UDTF surface of the reference
(SURVEY.md §2.9 P1/P2/P5, §2.2 F6/F7).

Reference semantics:
- LxmlParserLinkExtractor: iterate anchors in document order, resolve
  vs base, collect (url, text) (/root/reference/examples/
  lxmlhtml.py:33-81); FilteringLinkExtractor wraps it with
  allow/deny/allowed_domains/deny_extensions predicates
  (lxmlhtml.py:84-112, /root/reference/examples/link_spider.py:58-62).
- depth guard: stop expansion at maxdepth (link_spider.py:50-56).
- child priority = parent - 10, curdepth+1 (link_spider.py:57-89).
- first-occurrence dedup per page keyed by url (lxmlhtml.py:67-68
  unique_list).

Spark rebuild: documents already carry spans (input_hint shape); link
spans ARE the anchors, in document order via `offset`. Extraction =
array filters inside the page's row, one explode, then column
predicates — fully JVM-side, no shuffle and no HTML parse needed for
the synthetic graph. (For raw-HTML sources, functions/html.py
provides the pandas-UDF extractor with the same output shape.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.url import with_url_columns
from .frontier import child_priority, score_expr


def extract_link_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans, …) → one row per link url of a page:
    (doc_id, link_url, anchor_offset [, parent cols]). unique_list
    semantics (lxmlhtml.py:67-68), inside the page's row: its link (url,
    offset) pairs are sorted, and a pair is kept when the one before it
    has another url (NULL equal to NULL): O(L log L) for L links. Offsets
    order a page, not array positions."""
    other = [c for c in documents.columns if c != "spans"]
    # sorted in a projection of its own, so the filter's two reads per
    # element do not each rebuild the array
    pairs = documents.select(*other, F.sort_array(F.transform(
        F.filter("spans", lambda s: s["kind"] == "link"),
        lambda s: F.struct(s["text"].alias("url"), s["offset"].alias("offset")),
    )).alias("_links"))
    firsts = F.filter(
        "_links",
        lambda p, i: (i == 0) | ~F.get("_links", i - 1)["url"].eqNullSafe(p["url"]),
    )
    return pairs.select(*other, F.explode(firsts).alias("link")).select(
        *other,
        F.col("link.url").alias("link_url"),
        F.col("link.offset").alias("anchor_offset"),
    )


def apply_link_predicates(
    links: DataFrame,
    allowed_domains: list[str] | None = None,
    allow_regex: str | None = None,
    deny_regex: str | None = None,
    deny_extensions: list[str] | None = None,
    url_col: str = "link_url",
) -> DataFrame:
    """FilteringLinkExtractor predicates as vectorized column filters
    (lxmlhtml.py:84-112; golden counts tests/offline.py:206-239)."""
    out = links
    u = F.col(url_col)
    if allowed_domains:
        host = F.lower(F.parse_url(u, F.lit("HOST")))
        cond = None
        for d in allowed_domains:
            c = (host == d.lower()) | host.endswith("." + d.lower())
            cond = c if cond is None else (cond | c)
        out = out.filter(cond)
    if allow_regex:
        out = out.filter(u.rlike(allow_regex))
    if deny_regex:
        out = out.filter(~u.rlike(deny_regex))
    if deny_extensions:
        ext = F.lower(
            F.regexp_extract(F.parse_url(u, F.lit("PATH")), r"\.([A-Za-z0-9]{1,5})$", 1)
        )
        out = out.filter(~ext.isin([e.lower().lstrip(".") for e in deny_extensions]))
    return out


def links_to_candidates(links: DataFrame) -> DataFrame:
    """Turn surviving link rows (carrying parent frontier columns
    parent_*) into child frontier candidates: depth+1, priority-10
    (link_spider.py:57-89), canonicalized + hashed."""
    cands = links.select(
        F.col("link_url").alias("url"),
        (F.col("parent_depth") + 1).alias("depth"),
        F.col("maxdepth"),
        child_priority(F.col("parent_priority")).cast("int").alias("priority"),
        F.col("appid"),
        F.col("crawlid"),
        F.col("spiderid"),
        F.lit(0).alias("retry_times"),
        F.col("expires"),
        F.lit(False).alias("dont_filter"),
        F.col("parent_score"),
        F.col("parent_seq"),
        F.col("anchor_offset"),
        F.col("attrs"),
    )
    cands = with_url_columns(cands, "url", canonicalize=True)
    return cands.withColumn("score", score_expr())
