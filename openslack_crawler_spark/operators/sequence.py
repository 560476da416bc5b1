"""Deterministic dense sequence assignment at scale.

The frontier needs a monotone, deterministic `enqueue_seq` (the
rebuild's documented tiebreak for Redis zset pop order — SURVEY.md §7
step 4). A naive global `row_number()` is a single-partition sort; this
helper is the scalable two-phase form:

1. range-partition by the order columns (balanced),
2. sort each partition where it lies and rank its rows by their index
   in it (no second shuffle),
3. add the exclusive prefix-sum of per-partition counts, observed on
   the range cut's own job and given back as a literal array by
   partition id.

Same result as a global row_number, no single-reducer stage.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import components


def with_dense_seq(
    df: DataFrame,
    order_cols: list,
    start: int = 0,
    col_name: str = "seq",
    where: str | None = None,
) -> tuple[DataFrame, int]:
    """Assign col_name = start + (0-based global rank by order_cols).
    Returns (df, row total): the per-partition counts observed on the
    range cut already sum to it. With `where` (a boolean column) only its
    True rows take a seq and count; the others keep a NULL col_name. The
    mandatory lineage cut follows the session checkpoint seam
    (`spark.graft.checkpointDir`). The observation evaluates one
    predicate per partition (`defaultParallelism` of them) on every row:
    a per-row cost that grows with the cluster."""
    n = df.sparkSession.sparkContext.defaultParallelism
    take = F.lit(True) if where is None else F.col(where)
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # the counts ride the cut's job; observed above the exchange, since
    # below it the range sampler's job would count every row again
    counts = Observation()
    ranged = ranged.observe(
        counts,
        *(F.count_if(take & (F.col("_pid") == p)).alias(f"p{p}") for p in range(n)),
    )
    # EAGER checkpoint: range-partition boundaries come from sampling,
    # so the counts and the ranks MUST come from the same
    # materialization (a lazily-cached plan could recompute with
    # different boundaries after eviction → duplicate/missing seqs). It
    # cannot fold into a later cut: RangePartitioner seeds its sample
    # from the RDD id, so each execution draws different boundaries.
    ranged = components.ckpt_auto(ranged)
    # offsets[p] = start + the rows that take a seq in partitions < p
    offsets = list(accumulate(counts.get.values(), initial=start))
    # rows that take a seq sort first, so their local ranks run 0..count-1.
    # The rank is the row's index in its partition: the low 33 bits of
    # monotonically_increasing_id, whose upper 31 are the partition id.
    # It holds because (a) each consumer evaluates the projection in the
    # stage that reads the cut (no Exchange in between), so the task's
    # partition index equals _pid; (b) the id is nondeterministic, so
    # EliminateSorts cannot drop the local sort under a later orderBy;
    # (c) a partition holds at most 2^33 rows
    first = [] if where is None else [take.desc()]
    lrn = F.monotonically_increasing_id() - F.shiftleft(F.col("_pid").cast("long"), 33)
    off = F.array(*map(F.lit, offsets)).cast("array<bigint>")[F.col("_pid")]
    return (
        ranged.sortWithinPartitions(*first, *order_cols)
        .withColumn(col_name, F.when(take, off + lrn))
        .drop("_pid")
    ), offsets[-1] - start
