"""Distributed connected components — dedup-cluster assignment over a
near-duplicate pair graph (the canonical "which docs are the same
document" step after MinHash/SimHash candidate generation).

Algorithm: iterative min-label propagation WITH PATH HALVING (round 5):
every vertex holds the smallest doc_id it has seen; each round (1)
propagates labels across edges, then (2) pointer-jumps — replaces each
vertex's label with its label's label (component values are always node
ids, so the self-join is total). The jump doubles the hop distance a
minimum travels per round: O(log diameter) rounds instead of
O(diameter) — measured on a 200-node path fixture: 8 rounds / 5.7s vs
200 rounds / 31.3s at sf-bench scale. Near-dup graphs are
overwhelmingly tiny cliques (diameter ≤ 2-3) where both converge in
3-5 rounds; the halving is the chain-graph insurance (and each driver
round is one job either way, so fewer rounds = fewer actions).

Invariant for correctness: a vertex's label is always a node id inside
its own component and only ever decreases; the decimal-sum convergence
probe is exact (no 64-bit overflow at 10^10 ids), and a stable sum
implies every edge is label-uniform — the fixed point — because any
non-uniform edge would strictly lower the larger side next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_checkpoint_dir(spark) -> str | None:
    """Session-wide reliable-checkpoint seam: when the session conf
    `spark.graft.checkpointDir` is set, every registered
    iterative/multi-consumer query routes its lineage cuts through
    reliable checkpoint() into that dir — on a real cluster
    localCheckpoint blocks die with an executor. Unset (the sandbox
    default) keeps the fast in-memory path."""
    return spark.conf.get("spark.graft.checkpointDir", None) or None


def ckpt_auto(df: DataFrame) -> DataFrame:
    """Eager lineage cut honoring the session checkpoint seam (drop-in
    for the query paths' bare .localCheckpoint() calls)."""
    return _ckpt(df, session_checkpoint_dir(df.sparkSession))


def _ckpt(df: DataFrame, checkpoint_dir: str | None, eager: bool = True) -> DataFrame:
    """Cut lineage: reliable `checkpoint()` into checkpoint_dir when
    given (survives executor loss — required for long iterative jobs on
    a real cluster, where localCheckpoint data dies with an executor),
    else in-memory localCheckpoint (the fast single-node path).

    eager=False defers materialization to the caller's next action —
    the iteration loop runs its convergence-probe aggregation right
    after, which computes AND persists the round's labels in ONE job
    instead of two (per-round driver actions halve; at 3-5 rounds per
    dedup graph that is a measurable slice of the query)."""
    if checkpoint_dir:
        import warnings  # noqa: PLC0415

        sc = df.sparkSession.sparkContext
        current = sc.getCheckpointDir()
        if current is None:
            sc.setCheckpointDir(checkpoint_dir)
        elif not current.rstrip("/").endswith(checkpoint_dir.rstrip("/").lstrip("./")):
            warnings.warn(
                f"checkpoint dir already set to {current}; requested "
                f"{checkpoint_dir} is ignored (Spark allows one per context)",
                stacklevel=2,
            )
        # checkpoint-file GC relies on
        # spark.cleaner.referenceTracking.cleanCheckpoints=true, which must
        # be set at context creation (get_spark does); ContextCleaner
        # ignores runtime changes
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _driver_union_find(spark, sym_rows, sym_schema) -> DataFrame:
    """Local union-find over the collected symmetric edge list —
    component = min node id, exactly the distributed fixed point
    (equality asserted per-row in tests/test_reliable_checkpoint.py)."""
    from pyspark.sql import types as T  # noqa: PLC0415

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in sym_rows:
        a, b = r["a"], r["b"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in parent:
        root = find(n)
        if root not in comp_min or n < comp_min[root]:
            comp_min[root] = n
    out_schema = T.StructType(
        [
            T.StructField("node", sym_schema["a"].dataType),
            T.StructField("component", sym_schema["a"].dataType),
        ]
    )
    rows = [(n, comp_min[find(n)]) for n in parent]
    return spark.createDataFrame(rows, out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """edges(src, dst) undirected → (node, component) where component =
    min node id reachable. Pure DataFrame ops; O(log diameter) rounds
    (propagate + path-halving jump), labels-side shuffles only against
    the pre-partitioned edge list.
    Pass checkpoint_dir on a cluster so per-round lineage cuts survive
    executor death (localCheckpoint loses blocks with the executor and
    would force a full recompute of the iteration chain); when omitted
    it defaults to the session seam (session_checkpoint_dir).

    SIZE GATE (round 5): when the deduped symmetric edge list fits the
    driver (≤ small_graph_edges rows ≈ 16 MB at the default), a local
    union-find replaces the iteration loop — the per-round driver
    actions (join + agg + lineage cut, ~0.2-0.3s each at local[32])
    dominate tiny graphs, the same way the bloom gate's probe cost
    dominated small candidate sets. Near-dup graphs after banding are
    typically ≪1M edges even for large corpora; a 10^10-edge graph
    takes the distributed loop. Pass small_graph_edges=0 to force the
    distributed path (the unit tests of the loop do)."""
    if checkpoint_dir is None:
        checkpoint_dir = session_checkpoint_dir(edges.sparkSession)
    sym = edges.selectExpr(f"{src} as a", f"{dst} as b").union(
        edges.selectExpr(f"{dst} as a", f"{src} as b")
    )
    sym_dedup = sym.distinct()
    if small_graph_edges > 0:
        # probe via .collect(): CollectLimitExec's executeTake evaluates
        # partitions INCREMENTALLY with no exchange. The advisor-r5
        # Arrow alternative (limit(N+1).toPandas()) was tried round 6
        # and MEASURED 3x SLOWER on the sf0.1 near-dup graph (4.9s vs
        # 1.7s): toPandas plans GlobalLimit → Exchange SinglePartition
        # and funnels the probe through one task instead of taking
        # early. The transient Row cost on over-gate graphs (up to N+1
        # pickled Rows, discarded) is the price of the fast common
        # path; cap it by lowering small_graph_edges if driver memory
        # is tight.
        head = sym_dedup.limit(small_graph_edges + 1).collect()
        if len(head) <= small_graph_edges:
            return _driver_union_find(edges.sparkSession, head, sym_dedup.schema)
        # over the gate: fall through (the collected prefix is discarded
        # — at scale the limit stops the scan long before materializing
        # the graph)
    # hash-partition the (checkpointed) edge list on the probe key ONCE:
    # the per-round join shuffles only the label side against it
    # (checkpoint preserves the partitioning; measured −40% per round
    # at sf0.1)
    sym = _ckpt(sym_dedup.repartition(F.col("b")), checkpoint_dir)
    # initial labels fused with the FIRST propagation hop: component0 =
    # min(node, 1-hop neighborhood) is one groupBy over the edge list —
    # no join — so the loop starts a full hop ahead for free (sym is
    # symmetric, so every node appears as `a`). Lazy cut: the first
    # label_sum below materializes it with its aggregation (one job).
    labels = _ckpt(
        sym.groupBy(F.col("a").alias("node")).agg(
            F.least(F.first("a"), F.min("b")).alias("component")
        ),
        checkpoint_dir,
        eager=False,
    )

    def label_sum(df) -> int:
        # exact decimal sum — no 64-bit overflow at 10^10 node ids
        return int(
            df.agg(
                F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"] or 0
        )

    def step(lbl):
        """One propagate + path-halving jump (pointer jump:
        component <- label(component)). The jump's inner join is total
        — every component value is a node id with a label row — and
        labels only decrease, so the invariant holds."""
        incoming = (
            sym.join(lbl, sym.b == lbl.node)
            .select(F.col("a").alias("node"), "component")
        )
        stepped = (
            lbl.select("node", "component")
            .unionByName(incoming)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        parent = stepped.selectExpr("node AS pnode", "component AS pcomp")
        return stepped.join(parent, stepped.component == parent.pnode).select(
            "node", F.col("pcomp").alias("component")
        )

    # convergence probe: labels only ever DECREASE (min-propagation), so
    # the label multiset changed iff its sum changed — one cheap agg per
    # DOUBLE-round instead of a labels⋈labels join + filter + count.
    # Two steps per probe: same total shuffle work, half the driver
    # actions/lineage cuts; a stable sum across the pair still implies
    # the fixed point (any label-non-uniform edge strictly lowers the
    # sum in its next step).
    prev_sum = label_sum(labels)
    for _ in range(max_iter):
        new_labels = _ckpt(step(step(labels)), checkpoint_dir, eager=False)
        new_sum = label_sum(new_labels)  # materializes the lazy cut
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels
