"""Deterministic dense sequence assignment at scale.

The frontier needs a monotone, deterministic `enqueue_seq` (the
rebuild's documented tiebreak for Redis zset pop order — SURVEY.md §7
step 4). A naive global `row_number()` is a single-partition sort; this
helper is the scalable two-phase form:

1. range-partition + local sort by the order columns (balanced),
2. local row_number per physical partition,
3. add the exclusive prefix-sum of per-partition counts (a tiny
   driver-side table, broadcast back).

Same result as a global row_number, no single-reducer stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_dense_seq(
    df: DataFrame,
    order_cols: list,
    start: int = 0,
    col_name: str = "seq",
    where: str | None = None,
) -> tuple[DataFrame, int]:
    """Assign col_name = start + (0-based global rank by order_cols).
    Returns (df, row total): the per-partition counts it collects
    already sum to it. With `where` (a boolean column) only its True rows
    take a seq and count; the others keep a NULL col_name. The mandatory
    lineage cut follows the session checkpoint seam
    (`spark.graft.checkpointDir`)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # EAGER checkpoint: range-partition boundaries come from sampling,
    # so the counts pass and the rank pass MUST observe the same
    # materialization (a lazily-cached plan could recompute with
    # different boundaries after eviction → duplicate/missing seqs). It
    # cannot fold into a later cut: RangePartitioner seeds its sample
    # from the RDD id, so each execution draws different boundaries.
    from .components import _ckpt, session_checkpoint_dir  # noqa: PLC0415

    ranged = _ckpt(ranged, session_checkpoint_dir(df.sparkSession))
    take = F.lit(True) if where is None else F.col(where)
    counts = (
        ranged.groupBy("_pid").agg(F.count_if(take).alias("count"))
        .orderBy("_pid").collect()
    )
    offsets, acc = {}, start
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
        )
    )
    # rows that take a seq sort first, so their row numbers run 1..count
    first = [] if where is None else [take.desc()]
    w = Window.partitionBy("_pid").orderBy(*first, *order_cols)
    seq = F.col("_off") + F.col("_lrn") - 1
    return (
        ranged.withColumn("_lrn", F.row_number().over(w))
        .join(off_df, "_pid")
        .withColumn(col_name, F.when(take, seq).cast("long"))
        .drop("_pid", "_lrn", "_off")
    ), acc - start
