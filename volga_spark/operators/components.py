"""Connected components over an edge list — duplicate-cluster resolution.

After candidate-pair generation (exact-dup groups, MinHash/SimHash verified
pairs), deduplication needs the transitive closure: A~B and B~C put all
three in one cluster with one survivor. That closure is connected
components over the pair graph.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-based CC at web scale. Each round is one groupBy + one join;
convergence is O(log n) rounds *regardless of component diameter*, unlike
min-label propagation whose round count is the graph diameter (a chain of
10k near-dup docs would take 10k rounds to propagate). Every intermediate
edge set is at most the input size + n, so no round blows up memory.

Each round ends in ``localCheckpoint`` (eager): without it the iterated
plan's lineage doubles per round and Catalyst re-analysis dominates. On a
cluster with a configured checkpoint dir, swap for ``checkpoint`` to also
survive executor loss across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deduped edge sets up to this size (~3 MB of edges, far under the session's
# 64 MB broadcast threshold) resolve by driver-side union-find; larger ones
# run the distributed star rounds
LOCAL_MAX_EDGES = 200_000


def _local_union_find(spark, e: DataFrame) -> DataFrame:
    """Exact connected components of a small (driver-resident) edge set via
    union-find with path compression + union-by-min-label. Returns the same
    (node, component=min node id) set the distributed star rounds produce.
    Only reachable under the ``LOCAL_MAX_EDGES`` bound.

    The result is built from a pandas frame so the Arrow-enabled session
    makes it a JVM-local relation: a list of rows would become a pickled
    Python RDD, and every scan of it would run Python tasks in a second
    worker pool."""
    import pandas as pd
    from pyspark.sql import types as T

    node_type = e.schema["src"].dataType
    out_schema = T.StructType(
        [
            T.StructField("node", node_type, False),
            T.StructField("component", node_type, False),
        ]
    )
    pdf = e.toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min label keeps the root the component minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    out = pd.DataFrame({"node": nodes, "component": [find(n) for n in nodes]})
    return spark.createDataFrame(out, out_schema)


def _large_star(edges: DataFrame, w: int) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor to
    min(Γ(u) ∪ {u}). Output edges oriented (src > dst).

    ``w`` scopes every shuffle in this round's plan: the explicit
    ``repartition(w, src)`` provides the hash distribution the groupBy and
    the join both require, so neither inserts its own session-width
    exchange, and the closing distinct gets its width the same way."""
    nbrs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition(w, "src")
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    # r13 optimization round: no trailing repartition+distinct here. The
    # consumer is always `_small_star`, whose min-aggregation is
    # duplicate-insensitive and whose own closing distinct dedups the
    # round's output — large-star duplicates only thicken one shuffle's
    # input marginally (bounded by |E|), while the dropped
    # repartition+HashAggregate pair removes a full exchange + two
    # aggregate stages from EVERY round (guide §2.4).
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame, w: int) -> DataFrame:
    """For every node u (edges oriented src ≥ dst): connect u and all its
    ≤-neighbors to the minimum of the neighborhood."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).repartition(w, "src")
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relinked = (
        oriented.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_links = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        relinked.union(self_links).repartition(w, "src", "dst").distinct()
    )


def connected_components(
    edges: DataFrame, src: str, dst: str, max_rounds: int = 25
) -> DataFrame:
    """Return (node, component) for every node appearing in ``edges``;
    ``component`` is the smallest node id in the node's component.

    Nodes with no edges don't appear — the caller left-joins and coalesces
    to themselves (see q_dedup_clusters).

    Per-round cost discipline: the round's checkpoint is LAZY and the
    convergence-signature query is the action that materializes it, so each
    round is exactly ONE Spark job (eager checkpoint + separate signature
    used to be two; on an iterative algorithm the per-job fixed cost is the
    dominant term once components are small)."""
    spark = edges.sparkSession
    # the iterated edge set shrinks toward a star forest within a couple of
    # rounds; AQE coalesces reducers by bytes but each round's ~5 shuffles
    # still pay per-task scheduling at the session width. Scope the loop's
    # shuffle width down PER-PLAN via explicit repartition(loop_width, ...)
    # inside the star rounds (the plans are tiny by construction: |E| ≤
    # input) — never by mutating the session conf, which would leak into
    # concurrently-planned queries. On a cluster with billions of edges the
    # width follows the session conf, capped at 8 only for narrower sessions.
    loop_width = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 8)
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("src"),
            F.least(F.col(src), F.col(dst)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .repartition(loop_width, "src", "dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # r13 optimization round — size-adaptive execution (the broadcast-join
    # principle applied to the iteration): each star round costs a FIXED
    # ~0.5s of driver planning + job scheduling regardless of |E|, so a
    # few-hundred-edge graph (the common near-dup case after banding)
    # spends seconds of pure overhead on data that fits in one task. When
    # the deduped edge set is small enough to hold on the driver
    # (``LOCAL_MAX_EDGES``), run exact union-find locally instead of
    # O(log n) distributed rounds; the distributed loop is unchanged for
    # everything larger. The count below replaces round 1's materializing
    # action, so the distributed path pays one extra cheap job at most.
    # Result sets are identical (pinned by
    # tests/test_components.py::test_local_and_distributed_paths_agree).
    if e.count() <= LOCAL_MAX_EDGES:
        return _local_union_find(spark, e)
    prev_sig = None
    for _ in range(max_rounds):
        e = _small_star(_large_star(e, loop_width), loop_width).localCheckpoint(
            eager=False
        )
        # convergence = edge set stable (count + order-free xor hash;
        # edges are distinct so xor is a sound set signature, and unlike
        # sum it can't overflow under ANSI mode). This action also
        # materializes the lazy checkpoint, so the next round reads
        # cached blocks, not lineage.
        sig = e.select(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).first()
        if prev_sig == (sig.n, sig.h):
            break
        prev_sig = (sig.n, sig.h)
    else:
        raise RuntimeError(
            f"connected_components: no convergence in {max_rounds} rounds"
        )
    # converged edge set is a star forest: src → component root (= dst)
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).distinct()
