"""Sequence assembly for LLM pretraining — concatenate-and-chunk layout.

Pretraining batches are fixed-length token sequences; the standard layout
concatenates documents in a deterministic order and slices the resulting
token stream every ``capacity`` tokens (a document may straddle a chunk
boundary).  Computing the layout is a GLOBAL exclusive prefix sum of the
per-document token counts in document order — the textbook case where a
naive ``sum().over(Window.orderBy(id))`` collapses to a single task and
dies at scale.

:func:`prefix_sums` implements the distributed form — range-partition by
the order key, cumsum locally within each sorted range, then add
per-partition offsets (a tiny ordered window over #partitions rows,
broadcast back) — and is the ONE copy of the idiom for callers that
need every row's running total: ``ranking.exact_rank_counts`` calls it
too.  The prefix sum parallelizes like a sort, so the layout holds at
corpus scales that fit the cluster, not one executor.

:func:`sequence_chunks` maps each document to its place in the stream:
global token offset, first/last chunk index, and how many chunks it
spans.  Deterministic → oracle-checkable against a plain SQL window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .cache import materialize_and_release, track

__all__ = ["prefix_sums", "exclusive_prefix_sum", "sequence_chunks"]


def prefix_sums(
    df: DataFrame,
    order_col: str,
    value_cols: "list[str]",
    out_cols: "list[str]",
    *,
    inclusive: bool = False,
    num_partitions: "int | None" = None,
) -> DataFrame:
    """``df`` plus one running total per ``value_cols`` entry, in
    ``order_col`` order (exclusive by default; ``inclusive=True`` counts
    the current row — the ECDF convention).

    THE distributed prefix-sum idiom (used by :func:`sequence_chunks`
    and :func:`..ranking.exact_rank_counts`): range shuffle on
    ``order_col`` → per-partition local cumsum (window PARTITIONED by
    partition id — bounded) → exclusive per-partition offsets (one tiny
    ordered window over #partitions rows) broadcast back.  No global-order
    single-task window anywhere.

    ``order_col`` values must be unique and non-null (they define the
    stream order); NULL values count as 0.

    Persist footprint is NARROW regardless of the input width: only
    ``order_col + value_cols`` ride the range shuffle and the cache.  A
    wide input is projected first and the running totals joined back on
    ``order_col`` (unique by contract) — one extra hash shuffle instead
    of caching the whole corpus; the narrow totals cache is registered
    with :func:`..cache.track` for ``release_tracked()`` after the
    caller's action.  Narrow inputs return the persisted result directly.
    """
    if len(value_cols) != len(out_cols):
        raise ValueError("value_cols and out_cols must pair up")
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    vnames = [f"__v{i}" for i in range(len(value_cols))]
    needed = [order_col] + [
        c for c in dict.fromkeys(value_cols) if c != order_col
    ]
    extra = [c for c in df.columns if c not in needed]
    src = df.select(*needed) if extra else df
    ranged = (
        src.where(F.col(order_col).isNotNull())
        .repartitionByRange(n_parts, order_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    for vn, vc in zip(vnames, value_cols):
        ranged = ranged.withColumn(
            vn, F.coalesce(F.col(vc).cast("long"), F.lit(0))
        )
    # consumed twice (local cumsum + partition totals): keep the range
    # shuffle's result, release after the result materializes.  LAZY
    # persist only — both consumers sit behind the SAME range-shuffle
    # Exchange, whose map stage the scheduler dedupes at RDD level, so a
    # concurrent first materialization can at worst re-run the cheap
    # post-shuffle projection per partition, never the shuffle itself
    # (unlike the scan-side multi-consumer caches in dedup/*, which have
    # no shuffle boundary to share and DO need the eager count).
    ranged = ranged.persist()
    upper = 0 if inclusive else -1
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    local = ranged
    for i, vn in enumerate(vnames):
        local = local.withColumn(
            f"__l{i}", F.coalesce(F.sum(vn).over(w_local), F.lit(0))
        )
    w_prev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = ranged.groupBy("__pid").agg(
        *[F.sum(vn).alias(f"__t{i}") for i, vn in enumerate(vnames)]
    ).select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__t{i}").over(w_prev), F.lit(0)).alias(f"__o{i}")
            for i in range(len(vnames))
        ],
    )
    out = local.join(F.broadcast(offsets), "__pid")
    for i, oc in enumerate(out_cols):
        out = out.withColumn(oc, F.col(f"__l{i}") + F.col(f"__o{i}"))
    out = out.drop(
        "__pid",
        *vnames,
        *[f"__l{i}" for i in range(len(vnames))],
        *[f"__o{i}" for i in range(len(vnames))],
    )
    out = materialize_and_release(out, ranged)
    if extra:
        # lazy join-back: the persisted narrow totals must outlive this
        # call (the caller's action reads them) — tracked, not leaked
        track(out)
        return df.join(
            out.select(order_col, *out_cols), order_col, "inner"
        ).select(*df.columns, *out_cols)
    return out


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: "int | None" = None,
) -> DataFrame:
    """Single-column exclusive form of :func:`prefix_sums` (sum of
    ``value_col`` over all rows with a strictly smaller ``order_col``)."""
    return prefix_sums(
        df,
        order_col,
        [value_col],
        [out_col],
        inclusive=False,
        num_partitions=num_partitions,
    )


def sequence_chunks(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    capacity: int,
) -> DataFrame:
    """Concatenate-and-chunk layout: where each document lands in the
    fixed-``capacity`` token stream ordered by ``id_col``.

    Returns one row per input row:
    ``id_col · n_tokens · tok_start`` (global 0-based offset of the
    document's first token) ``· chunk_first · chunk_last`` (0-based chunk
    indices the document touches; an empty document sits at its boundary
    with ``chunk_last = chunk_first``) ``· n_chunks``.

    One range shuffle + one broadcast — the chunk arithmetic is pure
    projection on top of :func:`exclusive_prefix_sum`.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    pre = exclusive_prefix_sum(
        df.select(
            F.col(id_col),
            F.coalesce(F.col(n_tokens_col).cast("long"), F.lit(0)).alias(
                "n_tokens"
            ),
        ),
        order_col=id_col,
        value_col="n_tokens",
        out_col="tok_start",
    )
    # `div` = exact 64-bit integer division — a double-division floor()
    # would silently round past 2^53 total tokens, which a 100 TB corpus
    # (~2.5e13 tokens) approaches within two orders of magnitude
    first = F.expr(f"tok_start div {int(capacity)}")
    last = F.expr(
        f"(tok_start + greatest(n_tokens, 1L) - 1L) div {int(capacity)}"
    )
    out = pre.select(
        id_col,
        "n_tokens",
        "tok_start",
        first.alias("chunk_first"),
        last.alias("chunk_last"),
        (last - first + 1).alias("n_chunks"),
    )
    # the layout is a pure projection over the (already-materialized)
    # prefix-sum frame — return it lazy instead of paying a second
    # persist+count pass over the same rows; the cached `pre` it reads
    # is registered for deferred release (release_tracked()/clearCache)
    track(pre)
    return out
