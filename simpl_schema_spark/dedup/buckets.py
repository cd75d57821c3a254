"""Bounded bucket collection for LSH-style candidate generation.

All four candidate generators (n-gram inverted index, MinHash bands, SimHash
chunks, hyperplane-LSH chunks) share the shape::

    explode → groupBy(bucket_key) → collect_list(member) → within-bucket pairs

A hot bucket (boilerplate shingle, near-constant band hash) must never
materialize its full member list in a single aggregation buffer — at 10^12
docs a 10^8-member bucket would OOM the reducer before the size filter could
drop it.  :func:`bounded_buckets` therefore applies the size filter BEFORE
the collect:

1. count pass — ``groupBy(key).count()``: map-side partial aggregation, the
   shuffle carries only ``(key, long)`` pairs; peak reducer state is one
   counter per key.
2. semi-join the in-range keys back onto the exploded rows (AQE picks a
   broadcast when the surviving key set is small; otherwise both sides
   shuffle on the same key, co-partitioned).
3. collect pass — every group is now ≤ ``max_bucket_size`` by construction,
   so the aggregation buffer is bounded.

Cost: one extra (cheap, countable) shuffle versus the naive shape; the
exploded input is evaluated twice, so derive it from a persisted upstream
(all callers persist their signature/shingle DF already).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["bounded_buckets", "bounded_pair_join", "bucket_pairs"]


def bounded_buckets(
    exploded: DataFrame,
    key_cols: list[str],
    member: Column,
    *,
    max_bucket_size: int,
    min_bucket_size: int = 2,
    members_alias: str = "members",
) -> DataFrame:
    """``groupBy(key_cols).collect_list(member)`` with the bucket-size filter
    applied BEFORE collection (see module docstring)."""
    sizes = exploded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n"))
    keep = sizes.where(
        (F.col("__n") >= min_bucket_size) & (F.col("__n") <= max_bucket_size)
    ).select(*key_cols)
    bounded = exploded.join(keep, key_cols, "inner")
    return bounded.groupBy(*key_cols).agg(
        F.collect_list(member).alias(members_alias)
    )


def bounded_pair_join(
    exploded: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    *,
    max_bucket_size: int,
    min_bucket_size: int = 2,
    meta_col: str = "",
) -> DataFrame:
    """``(id_a, id_b[, <meta>_a, <meta>_b])`` — every within-bucket pair,
    ``id_a < id_b``, generated as a size-bounded per-key SELF-JOIN.

    Same two-pass discipline as :func:`bounded_buckets` (count first, so
    no aggregation buffer ever sees an over-cap bucket), but the pair
    expansion happens inside the join instead of pivoting through a
    ``collect_list`` array plus an Arrow enumeration pass: per-key join
    output is ≤ C(cap, 2) by the size filter, rows STREAM through
    whole-stage codegen with no per-bucket array and no Python stage,
    and the two join sides are the identical subtree, so they share one
    exchange (ReusedExchange).  Requires ``id_col`` values to be
    distinct within a bucket (all callers explode one row per (bucket,
    doc)).  Rows with a NULL in any key column are dropped: the inner
    joins on the keys never match NULL, so such rows pair with nothing.
    """
    sizes = exploded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n"))
    keep = sizes.where(
        (F.col("__n") >= min_bucket_size) & (F.col("__n") <= max_bucket_size)
    ).select(*key_cols)
    live = exploded.join(keep, key_cols, "inner")

    def side(suffix: str) -> DataFrame:
        cols = [F.col(id_col).alias(f"id_{suffix}")]
        if meta_col:
            cols.append(F.col(meta_col).alias(f"{meta_col}_{suffix}"))
        return live.select(*key_cols, *cols)

    out_cols = ["id_a", "id_b"] + (
        [f"{meta_col}_a", f"{meta_col}_b"] if meta_col else []
    )
    return (
        side("a")
        .join(side("b"), key_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select(*out_cols)
    )


def bucket_pairs(
    buckets: DataFrame, ids_col: str = "ids", *, meta_field: str = ""
) -> DataFrame:
    """``(id_a, id_b[, <meta>_a, <meta>_b])`` — every within-bucket pair,
    ``id_a < id_b``.

    Arrow-batched numpy enumeration (one gather per distinct bucket
    length per batch) instead of the expression form
    ``explode(flatten(transform(ids, a → filter(transform(ids, b →
    when(a<b, struct))))))`` — higher-order lambdas are interpreted, so
    at ~1M candidate pairs that chain was the operator's dominant cost
    (guide §4.2).  Bucket members are DISTINCT (one inverted-index row
    per (bucket, doc)), so positional ``i < j`` pairs with
    ``min``/``max`` yield exactly the value-ordered pair set the
    expression produced.

    With ``meta_field``, bucket members are ``struct<id, <meta_field>>``
    rows and each side's meta value rides along (swapped consistently
    with the id ordering) — this lets callers attach per-doc metadata to
    pairs WITHOUT a later join against the (candidate-count-sized) pair
    table."""
    import numpy as np
    import pyarrow as pa

    elem = buckets.schema[ids_col].dataType.elementType
    if meta_field:
        fields = {f.name: f.dataType.simpleString() for f in elem.fields}
        schema = (
            f"id_a {fields['id']}, id_b {fields['id']}, "
            f"{meta_field}_a {fields[meta_field]}, "
            f"{meta_field}_b {fields[meta_field]}"
        )
    else:
        schema = (
            f"id_a {elem.simpleString()}, id_b {elem.simpleString()}"
        )

    def gen(batches):
        tri_cache: dict = {}
        for batch in batches:
            col = batch.column(0)
            if isinstance(col, pa.ChunkedArray):  # pragma: no cover
                col = col.combine_chunks()
            offs = col.offsets.to_numpy()
            if meta_field:
                vals = col.values.field("id").to_numpy(
                    zero_copy_only=False
                )
                meta = col.values.field(meta_field).to_numpy(
                    zero_copy_only=False
                )
            else:
                vals = col.values.to_numpy(zero_copy_only=False)
            lengths = offs[1:] - offs[:-1]
            cols: dict = {"id_a": [], "id_b": []}
            if meta_field:
                cols[f"{meta_field}_a"] = []
                cols[f"{meta_field}_b"] = []
            for ell in np.unique(lengths):
                if ell < 2:
                    continue
                if ell not in tri_cache:
                    tri_cache[ell] = np.triu_indices(int(ell), 1)
                iu, ju = tri_cache[ell]
                starts = offs[:-1][lengths == ell]
                ai = (starts[:, None] + iu[None, :]).ravel()
                bi = (starts[:, None] + ju[None, :]).ravel()
                va, vb = vals[ai], vals[bi]
                swap = vb < va
                cols["id_a"].append(np.where(swap, vb, va))
                cols["id_b"].append(np.where(swap, va, vb))
                if meta_field:
                    ma, mb = meta[ai], meta[bi]
                    cols[f"{meta_field}_a"].append(
                        np.where(swap, mb, ma)
                    )
                    cols[f"{meta_field}_b"].append(
                        np.where(swap, ma, mb)
                    )
            if cols["id_a"]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(v)) for v in cols.values()],
                    names=list(cols),
                )

    return buckets.select(ids_col).mapInArrow(gen, schema)
