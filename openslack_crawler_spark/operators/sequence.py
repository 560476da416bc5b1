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
) -> tuple[DataFrame, int]:
    """Assign col_name = start + (0-based global rank by order_cols).
    Returns (df, row total): the per-partition counts it collects
    already sum to it. The mandatory lineage cut follows the session
    checkpoint seam (`spark.graft.checkpointDir`)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # EAGER checkpoint: range-partition boundaries come from sampling,
    # so the counts pass and the rank pass MUST observe the same
    # materialization (a lazily-cached plan could recompute with
    # different boundaries after eviction → duplicate/missing seqs)
    from .components import _ckpt, session_checkpoint_dir  # noqa: PLC0415

    ranged = _ckpt(ranged, session_checkpoint_dir(df.sparkSession))
    counts = (
        ranged.groupBy("_pid").count().orderBy("_pid").collect()
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
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.withColumn("_lrn", F.row_number().over(w))
        .join(off_df, "_pid")
        .withColumn(col_name, (F.col("_off") + F.col("_lrn") - 1).cast("long"))
        .drop("_pid", "_lrn", "_off")
    ), acc - start
