"""Iterative PageRank over a (weighted) edge DataFrame.

Host-level PageRank is the standard web-corpus quality prior (Common
Crawl publishes exactly this as its host-level ranking); downstream it
feeds quality filtering and crawl prioritization.  No reference analog —
this is a training-data-pipeline operator over the link graph that
:mod:`.text.links` extracts.

Algorithm: classic power iteration with damping ``d`` and dangling-mass
redistribution::

    rank'(v) = (1-d)/N + d * ( Σ_{u→v} rank(u) * w(u,v)/out_w(u)
                               + dangling_mass / N )

where ``dangling_mass = Σ rank(u)`` over vertices with no out-edges —
dropping it (as naive implementations do) leaks probability mass and
under-ranks everything reachable only from sinks.

Scale shape per iteration: the edge table is joined to the rank table on
the SOURCE key and re-aggregated on the DESTINATION key — two shuffles,
both on vertex ids.  The edge table is hash-partitioned by source ONCE
and local-checkpointed (storing the rows AND truncating the logical
plan — per-iteration actions would otherwise re-optimize the full
upstream extraction plan on the driver every power step), so iterations
shuffle only the (id, rank) table (vertex-count-sized, tiny next to
edges).  The dangling term is a 1-row lazy
aggregate cross-joined back (broadcast; no per-iteration driver action).
Previous-iteration caches are released each step and the lineage is cut
with ``localCheckpoint`` every ``checkpoint_every`` iterations — the two
classic iterative-Spark failure modes (cache accumulation, unbounded
plan growth).  Skewed in-degree (everyone links to google.com) is safe:
the dst-side aggregation is map-side combinable.

Fault tolerance: ``localCheckpoint`` (the edge and vertex tables, and the
rank table every ``checkpoint_every`` iterations) stores its blocks on
the executors and cuts the lineage, so nothing can recompute a lost
block.  On a cluster, losing an executor after a checkpoint, including a
dynamic-allocation decommission, aborts the job instead of recomputing
the partitions, as a ``persist`` would.  On one host (local mode) the
driver is the executor and nothing is lost.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    weight: Optional[str] = None,
    *,
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_every: int = 5,
) -> DataFrame:
    """``(id, rank)`` after ``iterations`` power steps from uniform 1/N.

    ``weight`` (optional) is a per-edge positive weight column (e.g.
    ``n_links`` from :func:`..text.links.host_edges`); omitted, every
    edge weighs 1.  Parallel edges are summed into one weighted edge.
    Vertices = every id appearing as src or dst.  Ranks sum to 1 (up to
    float error) because dangling mass is redistributed.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")

    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    # collapse parallel edges, then attach each source's total out-weight
    # → per-edge transition fraction. Partitioned by src once so every
    # iteration's rank join co-locates without re-shuffling the edges.
    # `e` is persisted for the SETUP phase only: trans (via the out_w
    # join) and vertices otherwise each recompute the raw edge input —
    # in composed pipelines that input is a full extraction pass
    # (q_crawl_frontier re-parsed every page's HTML per reference).
    e = e.groupBy("src", "dst").agg(F.sum("w").alias("w")).persist()
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # trans and vertices are LOCAL-CHECKPOINTED (lazily — the setup count
    # below materializes both in one job), not merely persisted: a persist
    # caches the physical result but every per-iteration action still
    # re-analyzes and re-optimizes the full upstream LOGICAL plan (in
    # composed pipelines that plan is the whole extraction pipeline, e.g.
    # q_crawl_frontier's HTML outlink parse), which measured as 0.2-0.4 s
    # of driver time per power step at bench scale.  Checkpointed, the
    # iteration plans reference two constant-size leaf tables, so driver
    # planning cost no longer grows with what produced the edges.  Block
    # lifetime: checkpoint blocks are freed by the ContextCleaner when the
    # result's plan is garbage-collected (same lifetime the tracked
    # persists had).
    trans = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("frac"))
        .repartition("src")
        .localCheckpoint(eager=False)
    )

    # vertices from the persisted TRANS table (same src/dst set as e —
    # every e row survives the out_w join), so the single count below
    # materializes trans and vertices together and e is setup-only
    # the dangling-vertex property is iteration-invariant — computed ONCE
    # as a boolean FLAG on the vertex table (left join against the
    # distinct source set, folded into the same setup count job) and
    # carried on every rank row, so the per-iteration dangling aggregate
    # is a pure filter+sum over the cached ranks: no join and no
    # broadcast-build sub-job per power step.  (The previous shape
    # semi-joined a persisted dangling-id set each iteration; per-
    # partition partial sums see the identical row set in the identical
    # layout, so the aggregate's float value is unchanged.)
    vertices = (
        trans.select(F.col("src").alias("id"))
        .unionByName(trans.select(F.col("dst").alias("id")))
        .distinct()
        .join(
            trans.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("__nd", F.lit(1)),
            "id",
            "left",
        )
        .select("id", F.col("__nd").isNull().alias("__dang"))
        .localCheckpoint(eager=False)
    )
    n = vertices.count()  # scalar: needed in the (1-d)/N literal
    e.unpersist(blocking=False)

    ranks = vertices.select(
        "id", "__dang", F.lit(1.0 / n).alias("rank")
    ).persist()

    def dangling_mass(r: DataFrame) -> float:
        """Σ rank over the dangling vertices, pulled as ONE driver scalar
        (a 1-row aggregate over the persisted rank table — never anything
        vertex-count-sized).  Inlined as a literal, it removes the
        per-iteration BroadcastExchange sub-job the old 1-row crossJoin
        needed; the float is identical (same aggregate, exact driver
        round-trip)."""
        return (
            r.where(F.col("__dang"))
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            .first()["dm"]
        )

    # this first aggregate also materializes ranks and dangling_ids
    dm = dangling_mass(ranks)
    base = F.lit((1.0 - damping) / n)
    for it in range(iterations):
        contribs = (
            trans.join(ranks, trans["src"] == ranks["id"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("frac")).alias("contrib"))
        )
        new_ranks = (
            vertices.join(contribs, vertices["id"] == contribs["dst"], "left")
            .select(
                "id",
                "__dang",
                (
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.lit(dm) / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            new_ranks = new_ranks.localCheckpoint(eager=True)
            if it < iterations - 1:
                dm = dangling_mass(new_ranks)
            ranks.unpersist(blocking=False)
        elif it < iterations - 1:
            new_ranks = new_ranks.persist()
            # ONE action per iteration: the next step's dangling scalar
            # both materializes the persisted ranks and returns the
            # driver literal
            dm = dangling_mass(new_ranks)
            ranks.unpersist(blocking=False)
        else:
            # final iteration: no eager count — the CALLER's first action
            # materializes the persisted result (one fewer vertex-sized
            # job per pagerank call).  The inputs it still reads
            # (previous ranks, trans, vertices) stay cached until then:
            # deferred release via cache.track().
            from .cache import track

            new_ranks = new_ranks.persist()
            track(ranks)
        ranks = new_ranks

    # trans/vertices are checkpoint leaves now — their blocks are released
    # by the ContextCleaner once the returned plan drops its references
    # (unpersist() is a no-op on a checkpointed frame)
    # the iteration-internal dangling flag stays private to this function
    return ranks.select("id", "rank")
