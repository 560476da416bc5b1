"""URL-seen filter: exact anti-join dedup fronted by a partitioned
bloom prefilter.

Reference semantics (the correctness contract):
- check-and-insert, first writer wins: Redis SADD returns 0 on the
  second add (/root/reference/crawler/schedulers/redis/dupefilter.py:39-44).
- `dont_filter` requests skip the dupefilter (/root/reference/crawler/
  schedulers/redis/scheduler.py:73). The only such requests are retries,
  and the round joins them after it (round_job step 8), so no row this
  module sees carries the flag set.
- bloom filter: md5-hex, 7 SimpleHash fns over 2^31 bits, sharded into
  256MB blocks by hash prefix (/root/reference/crawler/utils/
  bloomfilter.py:12-62).

Spark rebuild (SURVEY.md §2.2 F1-F3, §4 O2/O7):
- truth = exact `left_anti` join of candidate url_hash vs the seen
  table (north_rule demands URL-seen SET EQUALITY, so the bloom is only
  ever a prefilter, never the decider).
- intra-batch first-wins = min_by per url_hash of the caller's order
  key (enqueue_seq, or the round's pop order — sequential SADD order),
  not dropDuplicates (which is pick-any).
- bloom = per-block numpy bitmaps maintained with cogrouped
  applyInPandas: candidates and bitmap blocks are hash-partitioned on
  block_id, so the probe is a co-located vectorized pass — the Spark
  analogue of bloomfilter.py's hash-prefix block sharding. Definite
  negatives skip the anti-join shuffle; possible positives go through
  the exact join. At 10^10 URLs with ~1% revisit rate this cuts the
  big-join input by ~99%.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# scale knobs (documented: at 10^10 URLs run 4096 blocks × 2^33 bits)
DEFAULT_NUM_BLOCKS = 32
DEFAULT_BITS_PER_BLOCK = 1 << 24  # 2 MiB/block in tests; 2^33 (1 GiB) at 10^10
NUM_HASHES = 7  # parity with bloomfilter.py:36 (7 SimpleHash seeds)


def first_wins_dedup(cands: DataFrame, order="enqueue_seq") -> DataFrame:
    """Intra-batch dedup keeping the FIRST enqueued duplicate — the
    set-oriented equivalent of sequential SADD (dupefilter.py:39-44).

    `order` is the first-wins key, a column name or a Column, as in
    F.min_by: the row with the smallest key per url_hash is kept. A
    multi-part key is a struct, ascending per field, so a descending
    component is negated — the round passes its pop order, the
    append key (0, -parent_score, parent_seq, anchor_offset), directly.

    API contract: `url_hash` and `order` must be NON-NULL, and `order`
    UNIQUE within a url_hash group — a tie would make the kept row
    nondeterministic, and NULL keys degenerate (min_by ignores NULL-key
    rows; the groupBy keeps a NULL url_hash as one group). Every in-repo
    caller passes generated non-null hashes and a row-unique key.

    Round-6 shape (A/B-measured at 32M rows / local[32], see
    OPTIMIZATION_r06.md): repartition by url_hash FIRST, then run the
    min_by groupBy complete-mode over the co-partitioned rows — ONE
    Exchange + ONE sort + one SortAggregate, versus r5's partial/final
    split which sorted the full batch TWICE (min_by's struct buffer is
    not hash-aggregable, so each side of the Exchange paid its own
    sort; the partial agg only collapsed the ~dup_frac/num_tasks slice
    of duplicates that happened to be task-local — a bad trade).
    Candidates measured: r5 partial/final 8.10s, window row_number
    7.79s, THIS 7.03s, winners-join (HashAggregate + SHJ, no sorts)
    disqualified — its second plan branch re-runs the upstream
    canonicalizer. The dedup output stays hash-partitioned on url_hash,
    so the downstream seen anti-join reuses the partitioning with no
    further Exchange."""
    key = F.col(order) if isinstance(order, str) else order
    others = [c for c in cands.columns if c != "url_hash"]
    return (
        cands.repartition(F.col("url_hash"))
        .groupBy("url_hash")
        .agg(F.min_by(F.struct(*others), key).alias("_r"))
        .select(
            *[F.col("url_hash") if c == "url_hash" else F.col(f"_r.{c}").alias(c)
              for c in cands.columns]
        )
    )


def filter_unseen(cands: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact dedup: candidates whose url_hash is NOT in the seen table.
    Catalyst/AQE picks SMJ vs broadcast."""
    return cands.join(seen.select("url_hash"), "url_hash", "left_anti")


# --------------------------------------------------------------------------
# Why the bloom prefilter is opt-in (CrawlConfig.use_bloom defaults False)
#
# Two rounds of bigseen measurements (200M seen / 1M candidates, local[32])
# say the bloom prefilter LOSES whenever the exact anti-join can scan the
# seen table at all:
#     r3: exact_spj 3.12s   bloom_spj 4.61s
#     r4: exact_spj 3.49s   bloom_spj 4.115s   (exact_shuffle 3.856s)
# Why: any exact membership check — SPJ, shuffle, or broadcast-suspects —
# scans the seen side once, and that scan dominates. The bloom probe can
# only shrink the JOIN INPUT (candidate bytes entering the shuffle), which
# at crawl-realistic candidate volumes is the cheap part; the probe itself
# costs an extra Arrow cogroup pass over every candidate (~0.6µs/row
# measured). Net: bloom_spj - exact_spj ≈ +18% at both operating points,
# and the margin is flat in seen-size because both paths pay the same scan.
#
# The regime where the bloom DOES win is when the seen side is NOT
# scannable at join time — a remote/cold store priced per byte, or a seen
# set too large to keep join-materialized, where the resident ~1 bit/URL
# bitmap (28 GiB at 10^10 URLs vs ~80 GiB+ compressed table scan) answers
# the 99% definite-negatives without touching the table. That is a
# DEPLOYMENT property, not a row-count crossover, and the crawl store's
# seen table is always a scannable snapshot — so exact is the default and
# the bloom is an explicit deployment choice.


# --------------------------------------------------------------------------
# Partitioned bloom prefilter
# --------------------------------------------------------------------------


def _mix(h: np.ndarray, k: int) -> np.ndarray:
    """k-th derived hash from the 64-bit url_hash (splitmix-style remix;
    replaces the reference's 7 seeded SimpleHash passes over md5 hex,
    bloomfilter.py:17-21, with branch-free vectorized arithmetic).
    uint64 wraparound is the point — suppress numpy's overflow noise."""
    with np.errstate(over="ignore"):
        x = h.astype(np.uint64) + np.uint64((k * 0x9E3779B97F4A7C15) % (1 << 64))
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        return x


class PartitionedBloom:
    """Bloom bitmaps sharded by `block_id = pmod(url_hash, num_blocks)`
    (the Spark analogue of bloomfilter.py:49's hash-prefix block pick),
    stored as one binary row per block."""

    def __init__(self, num_blocks: int = DEFAULT_NUM_BLOCKS, bits: int = DEFAULT_BITS_PER_BLOCK):
        assert bits % 8 == 0
        self.num_blocks = num_blocks
        self.bits = bits

    def _block_id(self, col):
        return F.pmod(F.col(col) if isinstance(col, str) else col, F.lit(self.num_blocks)).cast("int")

    def _set_bits(self, bitmap: np.ndarray, hashes: np.ndarray) -> None:
        for k in range(NUM_HASHES):
            pos = _mix(hashes, k + 1) % np.uint64(self.bits)
            np.bitwise_or.at(bitmap, (pos >> np.uint64(3)).astype(np.int64),
                             np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))

    def _test_bits(self, bitmap: np.ndarray, hashes: np.ndarray) -> np.ndarray:
        hit = np.ones(len(hashes), dtype=bool)
        for k in range(NUM_HASHES):
            pos = _mix(hashes, k + 1) % np.uint64(self.bits)
            byte = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
            hit &= (byte & (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))) != 0
        return hit

    def build(self, seen: DataFrame) -> DataFrame:
        """seen(url_hash) → blocks(block_id int, bitmap binary).
        Grouped-map pandas UDF: one vectorized numpy pass per block."""
        bits = self.bits

        def build_block(pdf: pd.DataFrame) -> pd.DataFrame:
            bitmap = np.zeros(bits // 8, dtype=np.uint8)
            self._set_bits(bitmap, pdf["url_hash"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {"block_id": [int(pdf["block_id"].iloc[0])], "bitmap": [bitmap.tobytes()]}
            )

        return (
            seen.select("url_hash")
            .withColumn("block_id", self._block_id("url_hash"))
            .groupBy("block_id")
            .applyInPandas(build_block, schema="block_id int, bitmap binary")
        )

    def merge(self, blocks: DataFrame, new_seen: DataFrame) -> DataFrame:
        """OR the new url_hashes into existing bitmaps (incremental
        maintenance — insert path of bloomfilter.py:55-62)."""
        new_blocks = self.build(new_seen)
        both = blocks.unionByName(new_blocks)

        def or_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = np.zeros(self.bits // 8, dtype=np.uint8)
            for b in pdf["bitmap"]:
                acc |= np.frombuffer(b, dtype=np.uint8)
            return pd.DataFrame(
                {"block_id": [int(pdf["block_id"].iloc[0])], "bitmap": [acc.tobytes()]}
            )

        return both.groupBy("block_id").applyInPandas(
            or_blocks, schema="block_id int, bitmap binary"
        )

    def probe(self, cands: DataFrame, blocks: DataFrame) -> DataFrame:
        """Append `maybe_seen boolean` to candidates via a co-located
        cogrouped pass: both sides hash-partitioned on block_id, the
        bitmap travels once per block, membership tested vectorized."""
        # a new StructType: StructType.add would mutate the schema that
        # `cands` caches, so cands.columns would list maybe_seen after
        out_schema = T.StructType([*cands.schema.fields, T.StructField("maybe_seen", T.BooleanType())])
        cols = cands.columns
        test = self._test_bits

        def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(columns=cols + ["maybe_seen"])
            if right.empty:
                maybe = np.zeros(len(left), dtype=bool)
            else:
                bitmap = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
                maybe = test(bitmap, left["url_hash"].to_numpy(dtype=np.int64))
            out = left.drop(columns=["block_id"])
            out["maybe_seen"] = maybe
            return out

        lc = cands.withColumn("block_id", self._block_id("url_hash"))
        return (
            lc.groupBy("block_id")
            .cogroup(blocks.groupBy("block_id"))
            .applyInPandas(probe_group, schema=out_schema)
        )

    def prefiltered_unseen(self, cands: DataFrame, seen: DataFrame, blocks: DataFrame) -> DataFrame:
        """bloom prefilter → exact anti-join only for possible positives.
        Semantically identical to filter_unseen (bloom has no false
        negatives); the definite-negative fast path skips the shuffle."""
        probed = self.probe(cands, blocks)
        fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        suspect = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        return fresh.unionByName(
            suspect.join(seen.select("url_hash"), "url_hash", "left_anti")
        )
