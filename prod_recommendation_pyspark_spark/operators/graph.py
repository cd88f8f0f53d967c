"""Iterative graph propagation — PageRank on a DataFrame edge list.

Complements ``operators/dedup.py::connected_components`` (the other
iterative-join operator): components answers "which nodes are the same
entity", PageRank answers "which nodes matter" — the importance score a
recommendation pipeline wants over its customer↔supplier / doc↔link
graph.

Spark-first design: each iteration is one shuffle join (edges × ranks
on src) + one keyed aggregation (contributions by dst) — the classic
Pregel step expressed as DataFrames so Catalyst/AQE plan it (broadcast
the rank table while it fits, shuffle-hash when it doesn't).  No RDDs,
no driver-side graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    round_each: int | None = 10,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list; returns
    ``(node, rank)`` for every node that appears as a source OR a
    destination.

    Semantics (the simple power-iteration variant): rank starts at
    1/N; each step every node sends ``rank/out_degree`` down its out-
    edges and collects ``(1-d)/N + d·Σ incoming``.  Dangling nodes
    (no out-edges) simply leak their mass — the usual teleport
    redistribution is omitted so the recurrence stays a pure
    join+aggregate (and the DuckDB oracle can replay it as unrolled
    CTEs).

    Cross-engine determinism: the per-edge contribution
    ``rank / out_degree`` is one row-local double division; the
    per-node Σ accumulates in DECIMAL(38,30) (associative — a double
    sum would be partitioning-order-dependent, the ULP class
    functions/exact.py documents; scale 30 keeps the double→decimal
    cast's string-vs-binary discrepancy ~1e-21, far below any later
    rounding boundary); the damping arithmetic is row-local double
    ops, and each iteration's rank is quantized to ``round_each``
    digits so residual 1e-17-scale engine noise cannot compound
    across iterations.  Prefer a damping whose double is exact (0.5,
    0.75, 0.25) when an external oracle must replay the literals.

    Scale shape at 100 TB: the edge list shuffles ONCE onto src
    (re-used every iteration via the join key), ranks are |V| rows —
    broadcastable until the graph is billions of nodes, after which
    AQE switches to shuffle-hash on the same keys.  The result is
    ``localCheckpoint``ed once, after the last iteration; at the 3
    unrollable iterations the callers run, the lineage needs no
    mid-loop cut.
    """
    from pyspark import StorageLevel

    # Persist the loop-invariant tables: without this, Spark's lineage
    # recomputes the full edge derivation (scans + joins upstream of
    # `edges`) once per REFERENCE — the plan audit showed the source
    # tables scanned 8x for 3 iterations.  MEMORY_AND_DISK so a
    # 100 TB-derived edge list spills rather than OOMs.
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_df = nodes.agg(F.count(F.lit(1)).alias("__n"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("__deg"))
                .cast("decimal(38,30)")
                .alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").cast("double").alias("__in"))
        )
        new_rank = (
            F.lit(1.0 - damping) / F.col("__n")
            + F.lit(damping) * F.coalesce("__in", F.lit(0.0))
        )
        if round_each is not None:
            new_rank = F.round(new_rank, round_each)
        ranks = (
            nodes.crossJoin(F.broadcast(n_df))
            .join(contribs, "node", "left")
            .select("node", new_rank.alias("rank"))
        )
    # Materialize the result (|V| rows of (node, rank) — bounded), then
    # release the loop-invariant caches: without this, every pagerank
    # call in a long-lived session (bench sweeps, 147-query oracle
    # runs) leaves three MEMORY_AND_DISK tables behind until LRU
    # pressure evicts them.
    ranks = ranks.localCheckpoint(eager=True)
    for cached in (e, nodes, deg):
        cached.unpersist()
    return ranks


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over a directed edge list; returns ``(node, label)`` for
    every node that appears as a source or destination.  Pass a
    bidirectional edge list for the usual undirected semantics.

    Semantics (the deterministic synchronous variant): every node
    starts labeled with its own id; each step, every node adopts the
    label occurring MOST OFTEN among its in-neighbors, ties broken by
    the SMALLEST label; isolated-in-degree nodes keep their current
    label.  Unlike the randomized asynchronous original, every step
    here is pure integer counting with a total tie order — the whole
    recurrence replays in any engine (the DuckDB oracle unrolls the
    iterations as CTEs), which is what puts community assignments
    under a value hash.

    Spark shape: one iteration = join edges×labels on src (the edge
    list shuffles onto src ONCE and the partitioning is reused every
    round) + ONE keyed aggregation — the argmax label is
    ``max(struct(cnt, -label))``, a partial-aggregatable expression,
    so there is no per-node window and no second shuffle.  Labels are
    |V| rows, ``localCheckpoint``ed once at the end as in
    ``pagerank``."""
    from pyspark import StorageLevel

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        best = (
            e.join(labels, e["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("__c").alias("c"),
                        (-F.col("label")).alias("neg"),
                    )
                ).alias("__m")
            )
            .select("node", (-F.col("__m.neg")).alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
        )
    labels = labels.localCheckpoint(eager=True)
    for cached in (e, nodes):
        cached.unpersist()
    return labels


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iterations: int = 3,
    damping: float = 0.5,
    round_each: int | None = 10,
) -> DataFrame:
    """Personalized PageRank: identical power iteration to
    :func:`pagerank` except the teleport mass returns to the SEED SET
    (uniformly over |S| seeds) instead of all nodes — rank becomes
    'importance relative to these seeds', the random-walk relevance
    behind people-also-bought and seed-expanded audience building.
    Non-seed nodes receive only propagated mass: rank₀ = 1/|S| on
    seeds else 0; rankᵢ = d·Σ inbound + (1−d)/|S|·[node ∈ S].

    Same determinism contract as pagerank (row-local double division,
    DECIMAL(38,30) Σ, exact-binary damping preferred, per-iteration
    quantization) so an oracle can unroll the recurrence; same scale
    shape (edges shuffle onto src once; |V|-row rank table)."""
    from pyspark import StorageLevel

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seed = seeds.select(F.col(seed_col).alias("node")).distinct()
    ns_df = seed.agg(F.count(F.lit(1)).alias("__ns"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    is_seed = F.col("__s").isNotNull()
    base = (
        nodes.join(seed.withColumn("__s", F.lit(1)), "node", "left")
        .crossJoin(F.broadcast(ns_df))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranks = base.select(
        "node",
        F.when(is_seed, F.lit(1.0) / F.col("__ns"))
        .otherwise(F.lit(0.0))
        .alias("rank"),
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("__deg"))
                .cast("decimal(38,30)")
                .alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").cast("double").alias("__in"))
        )
        new_rank = F.lit(damping) * F.coalesce("__in", F.lit(0.0)) + F.when(
            is_seed, F.lit(1.0 - damping) / F.col("__ns")
        ).otherwise(F.lit(0.0))
        if round_each is not None:
            new_rank = F.round(new_rank, round_each)
        ranks = base.join(contribs, "node", "left").select(
            "node", new_rank.alias("rank")
        )
    ranks = ranks.localCheckpoint(eager=True)
    for cached in (e, nodes, deg, base):
        cached.unpersist()
    return ranks
