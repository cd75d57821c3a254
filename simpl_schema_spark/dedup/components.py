"""Connected components over near-duplicate pair edges.

Pairwise near-dup detection (minhash/simhash/ngram/embedding LSH) yields
EDGES; deduplication needs CLUSTERS — a document chained A~B~C must land in
one group even when (A, C) itself never became a candidate pair.  This is
connected components on the near-dup graph, computed with iterative
hash-min label propagation:

    label[v] ← min(label[v], min over neighbors u of label[u])

repeated until no label changes.  Converges in O(graph diameter)
iterations — near-dup graphs are overwhelmingly small cliques and short
chains, so 3-5 iterations in practice; ``max_iter`` bounds adversarial
chains.

Scale shape per iteration: one self-join of the (symmetrized) edge list
with the label table on the vertex key — co-partitioned hash joins, no
broadcast of anything row-count-sized — plus a min-aggregation.  Labels
are persisted per iteration and the PREVIOUS iteration's cache is released
(the classic iterative-Spark memory leak); convergence is checked with a
cheap changed-row count.  ``F.localCheckpoint`` optionally cuts the lineage
chain so 50-iteration worst cases don't build unbounded plans.

The algorithm is the standard hash-min propagation (cf. the "small-star /
large-star" family of map-reduce CC algorithms); for clique-heavy dedup
graphs plain hash-min matches their iteration count without the extra
edge-rewriting passes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

__all__ = ["connected_components", "dedup_groups_from_pairs"]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 20,
    checkpoint_every: int = 5,
    small_graph_threshold: int = 1_000_000,
    driver_byte_budget: int = 256 * 1024 * 1024,
) -> DataFrame:
    """``(id, component)`` — component = smallest vertex id reachable.

    Only vertices that appear in an edge are returned (isolated documents
    are their own components trivially; callers left-join if they want
    every document labeled).

    Graphs at or below ``small_graph_threshold`` edges are solved with
    driver-side union-find: near-dup edge sets are typically a tiny
    fraction of the corpus (pairs ABOVE a high similarity threshold), and
    a distributed iteration pays 2-3 job-scheduling round-trips per hop —
    seconds of fixed overhead per iteration regardless of data size.  A
    million-edge union-find is milliseconds on the driver; beyond the
    threshold the distributed hash-min loop takes over (set the threshold
    to 0 to force it).

    ``driver_byte_budget`` guards driver MEMORY, not just row count: the
    row threshold alone would let a row-count-qualifying graph of fat
    string ids (URLs as vertex keys) blow the driver heap.  Fixed-width
    ids (the common long/int case) are budgeted arithmetically with no
    extra job; variable-width ids pay one tiny aggregate (count + average
    key width) before the collect, and an estimate over budget falls
    through to the distributed path.
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()
    cap = 2 * small_graph_threshold
    #: collected-row overhead: Row object + two boxed values (CPython)
    _ROW_OVERHEAD = 120
    id_type = sym.schema["u"].dataType.simpleString()
    fixed_width = {
        "tinyint": 1, "smallint": 2, "int": 4, "bigint": 8,
        "float": 4, "double": 8, "date": 4, "timestamp": 8,
    }.get(id_type)
    if fixed_width is not None:
        # fixed-width keys: the budget caps the row allowance
        # arithmetically, no extra job
        row_bytes = 2 * fixed_width + _ROW_OVERHEAD
    else:
        # variable-width ids (strings): one tiny bounded aggregate
        # estimates the per-row footprint BEFORE anything row-shaped is
        # pulled to the driver; widths in bytes, not characters (non-ASCII
        # URLs take 2-4 bytes a character)
        est = sym.limit(cap + 1).agg(
            F.avg(F.octet_length(F.col("u")) + F.octet_length(F.col("v"))).alias("w")
        ).first()
        # python strings carry ~49 bytes of object overhead each
        row_bytes = float(est["w"] or 0) + 2 * 49 + _ROW_OVERHEAD
    cap = min(cap, int(driver_byte_budget // row_bytes))
    # ONE bounded probe job instead of count-then-collect: limit(cap+1)
    # fetches the complete edge set when the graph fits BOTH the row
    # threshold and the byte budget (the common near-dup case) and stops
    # scanning early when it does not — neither a huge graph nor a
    # fat-keyed one can blow the driver heap.
    rows = sym.limit(cap + 1).collect()

    if len(rows) <= cap:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            u, v = r.u, r.v
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN so the root IS the component label
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        out_rows = [(x, find(x)) for x in parent]
        id_type = sym.schema["u"].dataType
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("component", id_type)]
        )
        return sym.sparkSession.createDataFrame(out_rows, schema)
    # distributed path: NOW persist the (large) symmetrized edge table —
    # the loop reads it every iteration.  labels.count() materializes
    # labels and, through its single-consumer lineage, the sym cache.
    sym = sym.persist()
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .persist()
    )
    labels.count()

    changed = -1  # sentinel: max_iter <= 0 means zero iterations ran
    for it in range(max_iter):
        # min neighbor label per vertex, then min with own label
        neigh = (
            sym.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("component").alias("n_comp"))
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("n_comp", F.col("component"))
                ).alias("component"),
            )
            .persist()
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            cp = new_labels.localCheckpoint(eager=True)
            new_labels.unpersist(blocking=False)
            new_labels = cp
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist(blocking=False)
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting max_iter without convergence means the labels are
        # WRONG (a >max_iter-hop chain still spans several labels) —
        # failing loudly beats silently merging dedup clusters incorrectly
        sym.unpersist(blocking=False)
        still = "no iterations ran" if changed < 0 else f"{changed} labels still changing"
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({still}); raise max_iter "
            f"— hash-min needs one iteration per graph-diameter hop"
        )
    sym.unpersist(blocking=False)
    return labels


def dedup_groups_from_pairs(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 20,
    small_graph_threshold: int = 1_000_000,
    driver_byte_budget: int = 256 * 1024 * 1024,
    max_group_ids: Optional[int] = None,
) -> DataFrame:
    """``(component, n_members, member_ids)`` per near-dup cluster —
    ``component`` is the cluster's smallest id (the canonical survivor a
    keep-lowest dedup retains).

    ``max_group_ids`` bounds the reported ``member_ids`` to the that-many
    smallest ids per component (``n_members`` stays the exact count) with
    the same two-stage partial-slice shape as
    :func:`..exact.exact_duplicate_groups` — a degenerate boilerplate
    cluster with 10^8 members would otherwise funnel one unbounded array
    through a single aggregation buffer.
    """
    comp = connected_components(
        pairs, src, dst,
        max_iter=max_iter,
        small_graph_threshold=small_graph_threshold,
        driver_byte_budget=driver_byte_budget,
    )
    if max_group_ids is None:
        return (
            comp.groupBy("component")
            .agg(
                F.count(F.lit(1)).alias("n_members"),
                F.sort_array(F.collect_list("id")).alias("member_ids"),
            )
        )
    partial = comp.groupBy("component", F.spark_partition_id().alias("_pid")).agg(
        F.count(F.lit(1)).alias("n_part"),
        F.slice(
            F.sort_array(F.collect_list("id")), 1, max_group_ids
        ).alias("ids_part"),
    )
    return (
        partial.groupBy("component")
        .agg(
            F.sum("n_part").alias("n_members"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("ids_part"))),
                1,
                max_group_ids,
            ).alias("member_ids"),
        )
    )
