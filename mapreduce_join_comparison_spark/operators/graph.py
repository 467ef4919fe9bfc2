"""Iterative graph algorithms as driver-controlled loops over lazy
DataFrame plans.

The thesis lists iterative algorithms as the class plain MapReduce
serves worst (ch. 2 motivation; the reference implements none): every
iteration is a separate Hadoop job paying full HDFS materialization.
Spark's answer is to keep the loop ON THE DRIVER but the data in
executor memory: each iteration appends narrow joins/aggregates to one
lazy plan (or to a persisted intermediate), and nothing ever collects.

``pagerank`` here is the classic simplified formulation (uniform
teleport, contributions only along edges — the same recurrence as the
canonical Spark/GraphX example):

    rank_0(v)   = 1 / N
    rank_k+1(v) = (1 - d) / N + d * Σ_{(u,v) ∈ E} rank_k(u) / deg(u)

Scale posture: per iteration ONE shuffle (the contribution aggregate —
the rank⋈edges join reuses the aggregate's hash partitioning on the
key at runtime). ``persist_every`` truncates lineage so a 50-iteration
run doesn't build a 150-operator plan: at 100 TB you persist (or
checkpoint) every few iterations, and the ContextCleaner frees each
previous snapshot once it is unreferenced — the loop stays driver-side,
the data never does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    persist_every: int = 10,
) -> DataFrame:
    """PageRank over an edge list; returns (node, rank).

    Nodes are the union of sources and destinations; duplicate edges
    count once (the rank recurrence is over the edge SET). Dangling
    nodes (no out-edges) contribute nothing, like the canonical
    example.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = nodes.persist()
    n = nodes.count()  # one small action; N parameterizes the formula
    if n == 0:
        # empty graph: the damping formula divides by N — return the
        # (empty) rank frame instead of a ZeroDivisionError
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    links = e.join(out_deg, "src")  # (src, dst, deg)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        contribs = (
            links.join(ranks, links["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("deg")).alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("contrib_sum"))
        )
        ranks = nodes.join(
            contribs, nodes["node"] == contribs["dst"], "left"
        ).select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce("contrib_sum", F.lit(0.0))
            ).alias("rank"),
        )
        if persist_every and (i + 1) % persist_every == 0 and i + 1 < iterations:
            # localCheckpoint (eager), not persist: persist caches the
            # DATA but the logical plan — and the recovery lineage —
            # still grows by ~3 operators per iteration, so a
            # 100-iteration run carries a 300-operator tree into every
            # later analysis pass and any recomputation replays the
            # whole history (guide §5: localCheckpoint is the cheap
            # lineage cut when fault tolerance of the intermediate is
            # not critical). The checkpoint truncates the plan to a
            # scan of the materialized partitions — plan depth stays
            # CONSTANT across iterations (pinned in tests/test_graph).
            # The ContextCleaner frees the previous snapshot's blocks
            # once it is unreferenced; DataFrame.unpersist() would free
            # nothing of a checkpointed RDD.
            ranks = ranks.localCheckpoint()  # eager: materializes now
    # `nodes` and the final snapshot stay cached: the returned lineage
    # references both, and unpersisting them here embeds the FULL
    # unfolded iteration tree in the result's cached-plan
    # representation (measured 36 → 68 static exchanges). Repeated
    # calls in one session do accumulate cache entries, but Spark's
    # storage memory evicts LRU under pressure — bounded staleness,
    # not a hard leak; callers running pagerank in a tight loop can
    # spark.catalog.clearCache() between runs.
    return ranks
