"""Training-data text ops over the `documents` table: deduplication
(exact, MinHash+LSH, SimHash, n-gram Jaccard) and text analysis
(language-ID heuristic, quality scoring, token counting, document
fingerprinting). Spark side is pure column expressions (JVM codegen,
no Python); every query has a DuckDB oracle.

Cross-engine determinism rules used throughout:
- portable 60-bit hash: bigint of the first 15 hex chars of md5 —
  identical in Spark (`conv(substring(md5(x),1,15),16,10)`) and DuckDB
  (`('0x' || substr(md5(x),1,15))::bigint`).
- no round() on computed doubles (engines disagree at representation
  boundaries); ratios are emitted as floor(x * 1e6) integers.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators.components import ckpt_auto

MINHASH_PERMS = 8
LSH_BAND_SIZE = 2  # → 4 bands
SIMHASH_BITS = 32
STOPWORDS = ["the", "and", "of", "a", "to", "in"]


def _t(spark, sf_dir, name):
    # timestamp results must not depend on the caller's session TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def h60(col):
    """Portable 60-bit hash (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fan_out(df, min_parts: int | None = None, bytes_per_split: int = 128 << 20):
    """Give per-row-EXPENSIVE stages (tokenize / shingle explode /
    per-shingle hashing) full parallelism even when the upstream scan
    has few splits. At 100 TB a parquet scan yields thousands of
    byte-sized splits and this is a no-op; at the bench/test SFs a
    table is often ONE file, which pins the whole text pipeline to a
    single task (measured at sf0.1: the shingle explode ran 1-wide —
    2.6s of a 6.5s pair-generation pass with 31 cores idle).
    Round-robin repartition is safe here: every consumer is
    order-insensitive (groupBy / join / distinct).

    Round 6: the narrow-input gate reads the optimizer's sizeInBytes
    estimate (~10ms, driver-only) instead of df.rdd.getNumPartitions(),
    which forced a full physical planning pass per call — measured
    1.26s cold + ~50ms per query at sf0.1, paid by every text query's
    first shot. A small estimate (< target × 128 MiB, i.e. a scan that
    cannot yield `target` splits) repartitions exactly like the old
    partition-count gate; unknown stats (checkpointed RDDs report
    Long.Max) mean an already-materialized wide input — no-op, same as
    before. At 100 TB the estimate is huge and this is a no-op."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        narrow = size < target * bytes_per_split
    except Exception:
        narrow = df.rdd.getNumPartitions() < target
    return df.repartition(target) if narrow else df


def words_col(text_col):
    """Lowercased alnum word array, empties stripped — the shared
    tokenizer contract with the SQL oracles."""
    return F.filter(
        F.split(F.lower(F.regexp_replace(text_col, "[^a-zA-Z0-9 ]", " ")), " "),
        lambda x: x != "",
    )


SQL_WORDS = (
    "list_filter(string_split(lower(regexp_replace({t}, '[^a-zA-Z0-9 ]', ' ', 'g')), ' '), x -> x <> '')"
)


def shingles_col(w):
    """Word 3-gram shingles (1-based slice, length size-2)."""
    return F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 2),
            lambda i: F.concat_ws(" ", F.slice(w, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


SQL_SHINGLES = (
    "CASE WHEN len(w) >= 3 THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)] "
    "ELSE [] END"
)


# --- exact dedup: hash-groupBy ----------------------------------------------
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash of the normalized leading words —
    hash-groupBy, first doc_id wins (the kept copy)."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(words_col(F.col("text")), 1, 5)))
    return (
        docs.groupBy(key.alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


SQL_DEDUP_EXACT = f"""
WITH words AS (
  SELECT doc_id, {SQL_WORDS.format(t='text')} AS w FROM documents
)
SELECT md5(array_to_string(w[1:5], ' ')) AS text_hash,
       count(*) AS n_copies, min(doc_id) AS keep_doc_id
FROM words GROUP BY 1 HAVING count(*) > 1
"""


# --- MinHash signatures ------------------------------------------------------
def minhash_sig_wide(docs):
    """(doc_id, m1..m{MINHASH_PERMS}) wide MinHash signatures over
    (doc_id, w) in ONE map-side stage: all perms are min() COLUMNS of
    one groupBy(doc_id), so the position explode, the 8 per-shingle
    hashes, and the partial mins run inside the scan stage; the only
    shuffle is the (doc_id, 8 longs) partial-agg rows."""
    # explode shingle POSITIONS and build the shingle string top-level
    # (w rides the Generate output): 4.4x faster single-shot than
    # exploding the transform()-built array — the HOF fallback path
    # compiles and evaluates far worse (PLANS.md round-5 "lambda
    # collapse"). The old array_distinct pre-dedup is dropped: min() is
    # idempotent over duplicate shingles, so signatures are identical
    # (checksum-verified) and dup shingles just pay their own hash.
    pos_arr = F.when(
        F.size("w") >= 3, F.sequence(F.lit(1), F.size("w") - 2)
    ).otherwise(F.array().cast("array<int>"))
    sh = fan_out(docs).select(
        "doc_id", "w", F.explode(pos_arr).alias("i")
    ).select("doc_id", F.concat_ws(" ", F.slice("w", F.col("i"), 3)).alias("sh"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                h60(F.concat(F.lit(f"{p}|"), F.col("sh")))
            ).alias(f"m{p}")
            for p in range(1, MINHASH_PERMS + 1)
        ]
    )


def q_minhash_signatures(spark, sf_dir):
    # fan_out BEFORE the tokenizer projection: the regex word split is
    # the per-row-expensive part and must run post-shuffle, full-width
    docs = fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", words_col(F.col("text")).alias("w")
    )
    # unpivot the wide signature back to the (doc_id, perm, minhash)
    # row contract — a narrow generator over ~docs x 8 rows
    stack_args = ", ".join(f"{p}, m{p}" for p in range(1, MINHASH_PERMS + 1))
    return minhash_sig_wide(docs).select(
        "doc_id",
        F.expr(f"stack({MINHASH_PERMS}, {stack_args}) AS (perm, minhash)"),
    )


SQL_MINHASH_SIGNATURES = f"""
WITH words AS (
  SELECT doc_id, {SQL_WORDS.format(t='text')} AS w FROM documents
), sh AS (
  SELECT doc_id, unnest({SQL_SHINGLES}) AS sh FROM words
), hx AS (
  SELECT doc_id, cast(perm AS int) AS perm,
         cast(concat('0x', substr(md5(concat(perm, '|', sh)), 1, 15)) AS bigint) AS h
  FROM sh, generate_series(1, {MINHASH_PERMS}) AS t(perm)
)
SELECT doc_id, perm, min(h) AS minhash FROM hx GROUP BY doc_id, perm
"""


# --- MinHash LSH candidate pairs (band → bucket join) ------------------------
def q_minhash_lsh_pairs(spark, sf_dir):
    """Same result as banding q_minhash_signatures, but the hot path
    computes all MINHASH_PERMS mins as COLUMNS of one groupBy(doc_id)
    — no 8x row explosion, one shuffle instead of two, and the band
    signatures are plain column concats (perm order == column order)."""
    docs = fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", words_col(F.col("text")).alias("w")
    )
    return minhash_band_pairs(docs)


def minhash_band_table(docs):
    """(doc_id, band, band_sig) LSH band table over (doc_id, w) — the
    storable index unit: production keeps this table bucketed by
    hash(band_sig) so an incremental probe shuffles only the new-docs
    side (same storage-partitioned-join shape as the seen filter)."""
    sig = minhash_sig_wide(docs)
    n_bands = MINHASH_PERMS // LSH_BAND_SIZE
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * LSH_BAND_SIZE + i + 1}").cast("string")
                        for i in range(LSH_BAND_SIZE)
                    ],
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        "doc_id", F.explode(band_structs).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))


def minhash_band_pairs(docs):
    """MinHash-band candidate pairs over (doc_id, w) — the reusable
    fuzzy-dedup stage (also composed into corpus_clean_fuzzy)."""
    # materialize once: the self-join would otherwise recompute the
    # whole shingle→minhash pipeline for BOTH sides
    bands = ckpt_auto(minhash_band_table(docs))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "band_sig"
    )
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_band_star_edges(docs):
    """STAR edges over the LSH buckets: (bucket_min → member) for every
    ≥2-doc (band, band_sig) bucket — the connectivity-preserving
    replacement for clique pairs when the consumer is a connected-
    components pass (dedup clustering), NOT the pair list itself.

    Why this is the 100 TB shape: a duplicate cluster of B copies lands
    in one bucket, and clique pairs are O(B²) — a 10^6-copy boilerplate
    page (routine in web crawls) emits 10^12 edge rows from a single
    bucket. The star is O(B) with IDENTICAL components: every member
    connects to the bucket min, so any two members are 2 hops apart,
    and the node set (docs sharing a bucket with someone) is exactly
    the clique-pair node set — singleton buckets vanish via the
    doc != root filter. CC output over star edges is therefore
    bitwise-identical to CC over clique pairs (asserted in
    tests/test_fan_out.py), and the clique-pair DuckDB oracles remain
    valid for the CC-consuming queries unchanged.

    Plan: ONE Exchange (window over the bucket key) — no self-join, no
    eager checkpoint, no pair distinct; duplicate star edges across
    bands are absorbed by CC's own sym.distinct()."""
    w = Window.partitionBy("band", "band_sig")
    return (
        minhash_band_table(docs)
        .withColumn("root", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )


SQL_MINHASH_LSH_PAIRS = f"""
WITH words AS (
  SELECT doc_id, {SQL_WORDS.format(t='text')} AS w FROM documents
), sh AS (
  SELECT doc_id, unnest({SQL_SHINGLES}) AS sh FROM words
), hx AS (
  SELECT doc_id, cast(perm AS int) AS perm,
         cast(concat('0x', substr(md5(concat(perm, '|', sh)), 1, 15)) AS bigint) AS h
  FROM sh, generate_series(1, {MINHASH_PERMS}) AS t(perm)
), sig AS (
  SELECT doc_id, perm, min(h) AS minhash FROM hx GROUP BY doc_id, perm
), bands AS (
  SELECT doc_id, cast((perm - 1) // {LSH_BAND_SIZE} AS int) AS band,
         string_agg(cast(minhash AS varchar), ',' ORDER BY perm) AS band_sig
  FROM sig GROUP BY doc_id, cast((perm - 1) // {LSH_BAND_SIZE} AS int)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
WHERE a.doc_id < b.doc_id
"""


# --- SimHash ------------------------------------------------------------------
def q_simhash(spark, sf_dir):
    # no fan_out: the tokenize stage feeds straight into the bit-sum
    # aggregation, whose partial (map-side) combine already runs inside
    # the scan stage — a round-robin Exchange of the full text column
    # costs more than the 1-wide tokenize saves (measured r3→r4:
    # 0.76s→1.23s at sf0.1). At 100 TB the scan has thousands of
    # splits and parallelism is free.
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", words_col(F.col("text")).alias("w")
    )
    toks = docs.select("doc_id", F.explode("w").alias("tok")).withColumn(
        "h", h60(F.col("tok"))
    )
    # the x32 bit explode + (doc_id, bit) partial agg is the MEASURED
    # winner over a 32-column groupBy(doc_id) aggregate (interleaved
    # A/B at sf0.1: 0.71s vs 1.25s — 32 sum(when(...)) agg exprs in one
    # generated update function lose codegen/JIT efficiency, while the
    # exploded rows stay in tight whole-stage codegen and the bit-sum
    # shuffle is already partial-aggregated to docs x 32 rows map-side)
    bits = toks.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
    ).withColumn(
        "contrib",
        F.when(F.expr("(h div cast(pow(2, b) as bigint)) % 2") == 1, 1).otherwise(-1),
    )
    bit_sums = bits.groupBy("doc_id", "b").agg(F.sum("contrib").alias("s"))
    return bit_sums.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("cast(pow(2, b) as bigint)")).otherwise(0)
        ).alias("simhash")
    )


SQL_SIMHASH = f"""
WITH words AS (
  SELECT doc_id, {SQL_WORDS.format(t='text')} AS w FROM documents
), toks AS (
  SELECT doc_id,
         cast(concat('0x', substr(md5(unnest(w)), 1, 15)) AS bigint) AS h
  FROM words
), bits AS (
  SELECT doc_id, b,
         CASE WHEN (h // cast(pow(2, b) AS bigint)) % 2 = 1 THEN 1 ELSE -1 END AS contrib
  FROM toks, generate_series(0, {SIMHASH_BITS - 1}) AS t(b)
), bit_sums AS (
  SELECT doc_id, b, sum(contrib) AS s FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       cast(sum(CASE WHEN s > 0 THEN cast(pow(2, b) AS bigint) ELSE 0 END) AS bigint) AS simhash
FROM bit_sums GROUP BY doc_id
"""


# --- n-gram Jaccard near-dup pairs -------------------------------------------
def q_ngram_jaccard_pairs(spark, sf_dir):
    docs = fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", words_col(F.col("text")).alias("w")
    )
    # within-doc shingle dedup is row-level (array_distinct before the
    # explode) — exactly the distinct (doc_id, sh) set, with no
    # Exchange, and recomputing it per consumer (sizes / df / probe)
    # is a narrow map instead of a full shuffle each time
    sh = fan_out(docs).select(
        "doc_id", F.explode(F.array_distinct(shingles_col(F.col("w")))).alias("sh")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # frequency cap: shingles shared by >20 docs generate quadratic pair
    # blowup and carry no near-dup signal — standard LSH-era pruning
    rare = sh.join(
        sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= 20),
        "sh",
    )
    a = rare.select(F.col("doc_id").alias("doc_a"), "sh")
    b = rare.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard_micro",
            F.floor(
                F.col("inter") * 1000000 / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_micro") >= 500000)
    )
    return jac.select("doc_a", "doc_b", "jaccard_micro")


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH words AS (
  SELECT doc_id, {SQL_WORDS.format(t='text')} AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({SQL_SHINGLES}) AS sh FROM words
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), rare AS (
  SELECT sh.doc_id, sh.sh FROM sh
  JOIN (SELECT sh, count(*) AS df FROM sh GROUP BY sh HAVING count(*) <= 20) f
    ON sh.sh = f.sh
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       cast(floor(inter * 1000000 / (sa.sz + sb.sz - inter)) AS bigint) AS jaccard_micro
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor(inter * 1000000 / (sa.sz + sb.sz - inter)) >= 500000
"""


# --- language-ID heuristic ----------------------------------------------------
def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", words_col(F.col("text")).alias("w")
    )
    en = F.size(F.filter(F.col("w"), lambda x: x.isin("the", "and", "of", "a")))
    latin = F.size(F.filter(F.col("w"), lambda x: x.rlike("^[a-z]+$")))
    return docs.select(
        "doc_id",
        "lang",
        en.alias("en_markers"),
        F.when(en >= 1, F.lit("en"))
        .when(latin >= 1, F.lit("latin-other"))
        .otherwise(F.lit("unknown"))
        .alias("predicted_lang"),
    )


SQL_LANG_ID = f"""
WITH words AS (
  SELECT doc_id, lang, {SQL_WORDS.format(t='text')} AS w FROM documents
)
SELECT doc_id, lang,
       cast(len(list_filter(w, x -> x IN ('the', 'and', 'of', 'a'))) AS int) AS en_markers,
       CASE WHEN len(list_filter(w, x -> x IN ('the', 'and', 'of', 'a'))) >= 1 THEN 'en'
            WHEN len(list_filter(w, x -> regexp_matches(x, '^[a-z]+$'))) >= 1 THEN 'latin-other'
            ELSE 'unknown' END AS predicted_lang
FROM words
"""


# --- quality scoring ------------------------------------------------------------
def q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = words_col(F.col("text"))
    n_words = F.size(w)
    stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    punct = F.length(F.regexp_replace(F.col("text"), "[^.,;:!?]", ""))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_words.alias("n_words"),
        stop.alias("n_stopwords"),
        punct.alias("n_punct"),
        F.when(n_words > 0, F.floor(stop * 1000000 / n_words))
        .otherwise(0)
        .cast("long")
        .alias("stopword_ratio_micro"),
    )


SQL_QUALITY_SCORE = f"""
WITH words AS (
  SELECT doc_id, text, {SQL_WORDS.format(t='text')} AS w FROM documents
)
SELECT doc_id, cast(length(text) AS int) AS n_chars,
       cast(len(w) AS int) AS n_words,
       cast(len(list_filter(w, x -> x IN ({', '.join("'" + s + "'" for s in STOPWORDS)}))) AS int) AS n_stopwords,
       cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS int) AS n_punct,
       CASE WHEN len(w) > 0
            THEN cast(floor(len(list_filter(w, x -> x IN ({', '.join("'" + s + "'" for s in STOPWORDS)}))) * 1000000 / len(w)) AS bigint)
            ELSE 0 END AS stopword_ratio_micro
FROM words
"""


# --- token counting (whitespace + BPE-ish regex) --------------------------------
def q_token_count(spark, sf_dir):
    # pure narrow map — no shuffle belongs in this plan at any scale
    # (fan_out's round-robin Exchange doubled its runtime at sf0.1)
    docs = _t(spark, sf_dir, "documents")
    ws_tokens = F.size(words_col(F.col("text")))
    bpe_ish = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0
        )
    )
    return docs.select(
        "doc_id",
        ws_tokens.alias("n_ws_tokens"),
        bpe_ish.alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       cast(len({SQL_WORDS.format(t='text')}) AS int) AS n_ws_tokens,
       cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS int) AS n_bpe_tokens
FROM documents
"""


# --- document fingerprint ---------------------------------------------------------
def q_doc_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    normalized = F.concat_ws(" ", words_col(F.col("text")))
    return docs.select("doc_id", h60(normalized).alias("fingerprint"))


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
       cast(concat('0x', substr(md5(array_to_string({SQL_WORDS.format(t='text')}, ' ')), 1, 15)) AS bigint) AS fingerprint
FROM documents
"""


REGISTRY: dict[str, tuple] = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
}


# --- Gopher-style quality filter rules ----------------------------------------
def q_quality_gopher(spark, sf_dir):
    """Rule-based quality gate (Gopher/C4-style heuristics): doc length
    bounds, mean word length bounds, alphabetic-word ratio, stopword
    floor — the keep/drop decision a training-data pipeline applies
    before dedup. All ratios as floor-micro integers.

    Narrow map — no fan_out: a shuffle of the full text column to win
    parallelism cost +60% at sf0.1 (r4); the plan must stay
    Exchange-free (asserted in test_fan_out.py)."""
    docs = _t(spark, sf_dir, "documents")
    w = words_col(F.col("text"))
    n_words = F.size(w)
    total_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    mean_wlen_micro = F.when(
        n_words > 0, F.floor(total_chars * 1000000 / n_words)
    ).otherwise(0)
    alpha_words = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    alpha_ratio_micro = F.when(
        n_words > 0, F.floor(alpha_words * 1000000 / n_words)
    ).otherwise(0)
    stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    keep = (
        (n_words >= 10) & (n_words <= 1000)
        & (mean_wlen_micro >= 3000000) & (mean_wlen_micro <= 10000000)
        & (alpha_ratio_micro >= 800000)
        & (stop >= 2)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen_micro.cast("long").alias("mean_word_len_micro"),
        alpha_ratio_micro.cast("long").alias("alpha_ratio_micro"),
        stop.alias("n_stopwords"),
        keep.alias("keep"),
    )


SQL_QUALITY_GOPHER = f"""
WITH words AS (
  SELECT doc_id, {SQL_WORDS.format(t='text')} AS w FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_words,
         CASE WHEN len(w) > 0
              THEN floor(list_sum(list_transform(w, x -> length(x))) * 1000000 / len(w))
              ELSE 0 END AS mean_word_len_micro,
         CASE WHEN len(w) > 0
              THEN floor(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 / len(w))
              ELSE 0 END AS alpha_ratio_micro,
         len(list_filter(w, x -> x IN ({', '.join("'" + s + "'" for s in STOPWORDS)}))) AS n_stopwords
  FROM words
)
SELECT doc_id, cast(n_words AS int) AS n_words,
       cast(mean_word_len_micro AS bigint) AS mean_word_len_micro,
       cast(alpha_ratio_micro AS bigint) AS alpha_ratio_micro,
       cast(n_stopwords AS int) AS n_stopwords,
       (n_words >= 10 AND n_words <= 1000
        AND mean_word_len_micro >= 3000000 AND mean_word_len_micro <= 10000000
        AND alpha_ratio_micro >= 800000
        AND n_stopwords >= 2) AS keep
FROM m
"""

REGISTRY["quality_gopher"] = (q_quality_gopher, SQL_QUALITY_GOPHER)


# --- end-to-end corpus cleaning (the 100 TB pretraining-data shape) -----------
def q_corpus_clean_pipeline(spark, sf_dir):
    """The composed training-data pipeline in ONE DataFrame job:
    Gopher-style quality gate → language gate (en markers) →
    exact dedup by normalized fingerprint (first doc_id wins) →
    per-source corpus stats. Every stage is a narrow filter or one
    hash shuffle; nothing quadratic — the shape that holds at 100 TB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    deduped = corpus_clean_docs(docs)
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
    )


def corpus_clean_docs(docs):
    """Shared gate+exact-dedup stage of the corpus pipelines: Gopher
    quality gate → en-marker language gate → fingerprint dedup (min
    doc_id wins). Returns (doc_id, source, n_tokens, w) survivors —
    `w` is carried so downstream fuzzy dedup can shingle without
    re-tokenizing."""
    w = words_col(F.col("text"))
    n_words = F.size(w)
    total_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    mean_wlen_micro = F.when(
        n_words > 0, F.floor(total_chars * 1000000 / n_words)
    ).otherwise(0)
    alpha_words = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    alpha_ratio_micro = F.when(
        n_words > 0, F.floor(alpha_words * 1000000 / n_words)
    ).otherwise(0)
    stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    keep = (
        (n_words >= 10) & (n_words <= 1000)
        & (mean_wlen_micro >= 3000000) & (mean_wlen_micro <= 10000000)
        & (alpha_ratio_micro >= 800000)
        & (stop >= 2)
    )
    is_en = F.size(F.filter(w, lambda x: x.isin("the", "and", "of", "a"))) >= 1
    enriched = fan_out(docs).select(
        "doc_id", "source",
        n_words.alias("n_tokens"),
        w.alias("w"),
        h60(F.concat_ws(" ", w)).alias("fingerprint"),
        keep.alias("keep"),
        is_en.alias("is_en"),
    ).filter(F.col("keep") & F.col("is_en"))
    from pyspark.sql import Window  # noqa: PLC0415

    w_fp = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    return (
        enriched.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source", "n_tokens", "w")
    )


SQL_CORPUS_CLEAN_PIPELINE = f"""
WITH words AS (
  SELECT doc_id, source, {SQL_WORDS.format(t='text')} AS w FROM documents
), m AS (
  SELECT doc_id, source, len(w) AS n_tokens,
         cast(concat('0x', substr(md5(array_to_string(w, ' ')), 1, 15)) AS bigint) AS fingerprint,
         CASE WHEN len(w) > 0
              THEN floor(list_sum(list_transform(w, x -> length(x))) * 1000000 / len(w))
              ELSE 0 END AS mean_word_len_micro,
         CASE WHEN len(w) > 0
              THEN floor(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000000 / len(w))
              ELSE 0 END AS alpha_ratio_micro,
         len(list_filter(w, x -> x IN ({', '.join("'" + s + "'" for s in STOPWORDS)}))) AS n_stopwords,
         len(list_filter(w, x -> x IN ('the', 'and', 'of', 'a'))) AS en_markers
  FROM words
), kept AS (
  SELECT doc_id, source, n_tokens, fingerprint FROM m
  WHERE n_tokens >= 10 AND n_tokens <= 1000
    AND mean_word_len_micro >= 3000000 AND mean_word_len_micro <= 10000000
    AND alpha_ratio_micro >= 800000
    AND n_stopwords >= 2
    AND en_markers >= 1
), deduped AS (
  SELECT source, n_tokens FROM (
    SELECT source, n_tokens,
           row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id ASC) AS rn
    FROM kept
  ) WHERE rn = 1
)
SELECT source, count(*) AS docs_kept,
       cast(sum(n_tokens) AS bigint) AS tokens_total
FROM deduped GROUP BY source
"""

REGISTRY["corpus_clean_pipeline"] = (q_corpus_clean_pipeline, SQL_CORPUS_CLEAN_PIPELINE)


# --- incremental MinHash dedup: new batch vs stored band index ---------------
INCR_NEW_MOD = 4  # doc_id % 4 == 0 -> "newly crawled" batch


def q_minhash_incremental_pairs(spark, sf_dir):
    """Incremental fuzzy dedup — the production shape at 100 TB: a
    newly-crawled batch (here the doc_id%4==0 slice) probes the STORED
    LSH band index of the already-ingested corpus instead of
    re-self-joining the whole corpus each round. The band table is the
    persistable unit: production keeps it bucketed by band_key =
    hash(band, band_sig) (Spark bucketBy / Iceberg bucket(B, band_key))
    and maintains it with append-only writes (an upsert keyed on
    band_key would evict near-dups' posting rows), so the probe join
    shuffles ONLY the new side — the seen-filter SPJ shape. That plan
    claim is ENFORCED by tests/test_sources_and_bucketing.py::
    test_band_index_probe_spj (index side
    Bucketed:true with no Exchange, one probe-side Exchange, same
    pairs as this query). Pairs report how many of the 4 bands collide
    (the LSH similarity certificate). New-vs-new dedup is the
    already-covered minhash_lsh_pairs self-join over the small batch."""
    docs = fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", words_col(F.col("text")).alias("w")
    )
    bands = ckpt_auto(minhash_band_table(docs))
    is_new = F.pmod(F.col("doc_id"), F.lit(INCR_NEW_MOD)) == 0
    index = bands.filter(~is_new).select(
        F.col("doc_id").alias("indexed_doc"), "band", "band_sig"
    )
    probe = bands.filter(is_new).select(
        F.col("doc_id").alias("new_doc"), "band", "band_sig"
    )
    return (
        probe.join(index, ["band", "band_sig"])
        .groupBy("new_doc", "indexed_doc")
        .agg(F.count(F.lit(1)).alias("n_bands_match"))
    )


SQL_MINHASH_INCREMENTAL_PAIRS = f"""
WITH words AS (
  SELECT doc_id, {SQL_WORDS.format(t='text')} AS w FROM documents
), sh AS (
  SELECT doc_id, unnest({SQL_SHINGLES}) AS sh FROM words
), hx AS (
  SELECT DISTINCT doc_id, cast(perm AS int) AS perm,
         cast(concat('0x', substr(md5(concat(perm, '|', sh)), 1, 15)) AS bigint) AS h
  FROM sh, generate_series(1, {MINHASH_PERMS}) AS t(perm)
), sig AS (
  SELECT doc_id, perm, min(h) AS minhash FROM hx GROUP BY doc_id, perm
), bands AS (
  SELECT doc_id, cast((perm - 1) // {LSH_BAND_SIZE} AS int) AS band,
         string_agg(cast(minhash AS varchar), ',' ORDER BY perm) AS band_sig
  FROM sig GROUP BY doc_id, cast((perm - 1) // {LSH_BAND_SIZE} AS int)
)
SELECT p.doc_id AS new_doc, i.doc_id AS indexed_doc, count(*) AS n_bands_match
FROM bands p JOIN bands i USING (band, band_sig)
WHERE p.doc_id % {INCR_NEW_MOD} = 0 AND i.doc_id % {INCR_NEW_MOD} <> 0
GROUP BY 1, 2
"""

REGISTRY["minhash_incremental_pairs"] = (
    q_minhash_incremental_pairs,
    SQL_MINHASH_INCREMENTAL_PAIRS,
)
