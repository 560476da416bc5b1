"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship scheduling-round query on sf0.001.
queries()     — one entry per implemented operator (SURVEY.md §2 +
                training-data ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()  — DuckDB-equivalent ANSI SQL per query (omitted only for
                genuinely non-SQL-expressible ops → rows-only check).

See COVERAGE.md for the operator-id → query map.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openslack_crawler_spark import (
    queries_components,
    queries_coverage,
    queries_fulltext,
    queries_ivf,
    queries_media,
    queries_pipeline,
    queries_pretrain,
    queries_quality,
    queries_recall,
    queries_relational,
    queries_robots,
    queries_sessions,
    queries_similarity,
    queries_substring,
    queries_textdedup,
)
from openslack_crawler_spark.functions.url import with_url_columns
from openslack_crawler_spark.operators import frontier as fr, politeness as po, seen_filter

_REGISTRIES = [
    queries_relational.REGISTRY,
    queries_textdedup.REGISTRY,
    queries_similarity.REGISTRY,
    queries_pipeline.REGISTRY,
    queries_media.REGISTRY,
    queries_coverage.REGISTRY,
    queries_components.REGISTRY,
    queries_sessions.REGISTRY,
    queries_ivf.REGISTRY,
    queries_fulltext.REGISTRY,
    queries_pretrain.REGISTRY,
    queries_quality.REGISTRY,
    queries_recall.REGISTRY,
    queries_robots.REGISTRY,
    queries_substring.REGISTRY,
]

# The driver's correctness gate checks the FIRST 50 queries in iteration
# order. Round-5 rotation follows the STALE-GREEN RULE (VERDICT r4
# "What's wrong" #1, now enforced by tests/test_rotation_guard.py +
# greenmap.json): any query whose implementing module changed since its
# last driver-green round must be in this window. 28 queries are
# module-stale this round (the fan_out removals re-touched
# queries_textdedup, plus staleness inherited from r2-r4 edits that the
# old bookkeeping never surfaced); 6 more re-enter manually because the
# OPERATOR modules they exercise changed (seen_filter bloom gate,
# components small-star — module-level hashing can't see those);
# ann_recall_report is new. The remaining 15 slots keep the §2 crawl
# core and the ANN/pretrain queries the recall/bench work leans on.
_WINDOW = [
    # crawl core (kept in: always-on §2 flagship surface; seen_antijoin
    # + bloom_prefilter_dedup + crawl_e2e* also re-enter because
    # operators/seen_filter.py changed this round)
    # (blacklist_antijoin rotated out this round: r4-green, its
    # operators/frontier.py module unchanged in r5)
    # (global_pop / merge_upsert / content_type_filter also rotated
    # out late round-5: r4-green, modules unchanged — their slots admit
    # the three queries_pretrain.py queries the decontaminate edit made
    # module-stale)
    "seen_antijoin", "dequeue_topk_per_host",
    "depth_decay", "politeness_slots",
    "url_canonicalize",
    "retry_union", "crawl_e2e", "crawl_e2e_summary",
    "bloom_prefilter_dedup",
    # module-stale: queries_textdedup.py (fan_out removal, r5)
    "dedup_exact", "minhash_signatures", "minhash_lsh_pairs",
    "minhash_incremental_pairs", "simhash", "ngram_jaccard_pairs",
    "lang_id", "quality_score", "token_count", "doc_fingerprint",
    "quality_gopher",
    # (chunk_dedup / repetition_ratio of queries_quality.py and
    # text_match_topk / docs_with_children of queries_fulltext.py rotated
    # out: r5-green, modules unchanged since — their slots admit the four
    # queries the pop-key dedup edit made module-stale; text_bm25_topk
    # stays as a flagship)
    "text_bm25_topk",
    # module-stale: streaming/ingest.py (arrival-offset first-wins, then
    # the shared frontier-append tail) and queries_pipeline.py (crank
    # comment); crawl_e2e* above stay in for the one-pass round
    # sequencing in plans/round_job.py
    "request_ingest", "streaming_window_counts",
    "content_type_filter", "multimodal_features",
    # module-stale: queries_pipeline.py / queries_media.py edits (r3/r4)
    # whose greens predate them — the holes the old rotation never saw
    "cache_rewrite", "duration_normalize", "headers_multimap",
    "ua_rotation", "media_keys",
    # module-stale: queries_pretrain.py (r4 HUGEINT casts landed after
    # these three's r3 greens; the late-r5 decontaminate single-pass
    # edit re-staled the whole module, re-admitting the mix/shard trio)
    "corpus_sample_stratified", "decontaminate_overlap", "pii_scan",
    "mix_weights_temperature", "corpus_shard_pack", "mix_epochs",
    # module-stale: queries_similarity.py (r4 kernel work postdates
    # their r3 greens)
    "ann_lsh_multiband_topk", "embedding_neardup_pairs", "lsh_buckets",
    # operators/components.py changed (small-star round-halving, r5)
    "dedup_components", "corpus_clean_fuzzy",
    # composite over textdedup (module-stale)
    "corpus_clean_pipeline",
    # NEW round-5 queries — in-window their first round on the registry
    # (ann_cosine_topk / ann_lsh_topk / mix_weights_temperature /
    # corpus_shard_pack rotated out to make room: all r4-green with
    # unchanged modules, and ann_recall_report hash-checks the ANN
    # paths against the exact kernel anyway)
    "ann_recall_report",
    "substring_dup_spans", "winnow_fingerprints", "winnow_shared_pairs",
    "source_quality_prior",
    # NEW round-5: OPIC/PageRank-style link rank + the robots gate
    # (in-window their first round; multimodal_features rotated out —
    # r4-green, queries_pipeline.py unchanged)
    "link_rank", "robots_gate",
    # ANN flagship the recall report and bench grade against
    "ann_ivf_topk",
]


def _ordered_items():
    merged: dict[str, tuple] = {}
    for reg in _REGISTRIES:
        merged.update(reg)
    for name in _WINDOW:
        if name in merged:
            yield name, merged.pop(name)
    yield from merged.items()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one crawl-scheduling round built from the round job's
    own operators — URL columns → seen anti-join → per-host top-k
    dequeue → politeness slot assignment — over a frontier synthesized
    from sf0.001 events."""
    sf_dir = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    urls = events.select(
        F.concat(
            F.lit("http://host-"), F.col("user_id").cast("string"),
            F.lit(".example/p/"), F.col("event_id").cast("string"),
        ).alias("url"),
        F.col("user_id").alias("host_id"),
        F.col("event_id").alias("enqueue_seq"),
        F.floor("value").cast("int").alias("priority"),
    )
    frontier = with_url_columns(urls, canonicalize=False).withColumn(
        "score", fr.score_expr()
    )
    # seen = every third URL already crawled
    seen = frontier.filter(F.pmod("enqueue_seq", F.lit(3)) == 0)
    batch = fr.dequeue_top_k_per_host(seen_filter.filter_unseen(frontier, seen), 8)
    # every host: 1 s crawl delay, 4 fetches per politeness slot, no
    # disallowed prefix
    robots = frontier.select(
        "host", F.lit(1.0).alias("crawl_delay"), F.lit(4).alias("max_parallel"),
        F.array().cast("array<string>").alias("disallow"),
    ).distinct()
    return po.assign_fetch_slots(batch, robots).select(
        "url", "host_id", "priority", "fetch_rank", "fetch_at"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _ordered_items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in _ordered_items() if sql is not None
    }
