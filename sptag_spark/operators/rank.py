"""Global top-k with a rank column, without the full-data window funnel.

The naive formulation — ``row_number() OVER (ORDER BY ...)`` then
``WHERE rank <= k`` — forces every input row through ONE task (Window with
no partition spec ⇒ Exchange SinglePartition over the whole aggregate).
Correct, but a scale-killer on a real corpus: the BM25 candidate set or the
distinct-token vocabulary of a 100 TB corpus does not fit one task.

``orderBy(...).limit(k)`` instead compiles to TakeOrderedAndProject: each
partition keeps a k-row heap, and only ≤ #partitions·k rows reach the final
merge. The ≤ k survivors arrive in rank order on one partition (the
operator's outputOrdering contract), so the rank column is a plain
monotonically_increasing_id projection — no window node at all (plan shape
pinned by tests/test_plans.py, value equivalence by
tests/test_properties.py).

Mirrors the reference's per-query top-k heap semantics
(AnnService/inc/Core/Common/QueryResultSet.h) applied at corpus level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id() = partition_id * 2^33 + row-offset-in-partition
# (documented bit layout: upper 31 bits partition id, lower 33 bits offset).
_MID_PARTITION_STRIDE = 1 << 33


def ranked_topk(
    df: DataFrame,
    order: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the global top-``k`` rows of ``df`` under ``order`` and number
    them 1..k in that order (LONG ``rank_col``).

    ``order`` must be a total order (break ties explicitly, e.g.
    ``[F.col("score").desc(), F.col("doc_id")]``) so rank assignment is
    deterministic.

    Ranking the survivors uses NO window at all: TakeOrderedAndProject's
    output ordering is part of its operator contract (it exposes
    outputOrdering = the sort order, single partition), so
    monotonically_increasing_id() over it yields 0..k-1 in rank order —
    and being non-deterministic, the expression is never pushed below the
    limit or reordered by Catalyst. An unpartitioned rank window here
    would be harmless over ≤ k rows but logs WindowExec's move-all-data
    warning, a false alarm that would mask real funnels in run logs (and
    a constant partition key is folded away by EliminateWindowPartitions,
    bringing the warning back). Correctness vs the window formulation is
    property-tested (tests/test_properties.py), ties included.

    The sortWithinPartitions below is a defensive no-op sort over the ≤ k
    survivors: rank correctness must not DEPEND on the physical plan
    compiling to TakeOrderedAndProject. If the planner ever falls back to
    Sort + GlobalLimit (e.g. spark.sql.execution.topKSortFallbackThreshold
    lowered below k), the single-partition shuffle feeding GlobalLimit
    does not preserve order — the local re-sort restores it for pennies
    (k rows), while under TakeOrderedAndProject the physical
    RemoveRedundantSorts rule elides it (child outputOrdering already
    satisfies it), so the pinned plan shape is unchanged.
    """
    return (
        df.orderBy(*order)
        .limit(k)
        .sortWithinPartitions(*order)
        .withColumn(
            rank_col, (F.monotonically_increasing_id() + 1).cast("long")
        )
    )


def _bucket_offsets(counts: dict[int, int], n_buckets: int) -> dict[int, int]:
    """Exclusive prefix sums over dense bucket ids 0..n_buckets-1 (missing
    buckets count 0)."""
    offsets: dict[int, int] = {}
    acc = 0
    for b in range(n_buckets):
        offsets[b] = acc
        acc += counts.get(b, 0)
    return offsets


# Below this many rows the distributed renumbering's fixed overhead (a
# range-sample job, a checkpoint materialization, a counts job) loses to
# simply sorting in one task: fresh-process A/B at 128k/512k rows measured
# 2.0 s/3.4 s distributed vs 0.8 s/1.6 s single-task (SCALING.md, "r6:
# dense-id renumbering"). 1M rows × ~0.5 KB (a 128-dim float vector + row overhead)
# ≈ 0.5 GB through one task — fine on any real executor; above that the
# funnel starts to matter and the parallel path wins on a cluster.
_SMALL_SORT_ROWS = 1 << 20


def global_row_number_by(
    df: DataFrame,
    key: str,
    out_col: str = "rn",
    known_count: int | None = None,
) -> DataFrame:
    """0-based global row number ordered by a UNIQUE, DETERMINISTIC numeric
    ``key`` column — without the single-partition window funnel.

    ``row_number() OVER (ORDER BY key)`` moves every row through one task.
    This instead runs Spark's own distributed sort — ``orderBy(key)`` range-
    partitions on SAMPLED split points, so clustering/skew in the key space
    is absorbed by the partitioner, unlike fixed-width value buckets — and
    then numbers the sorted partitions with the map-only partition-offset
    scheme of :func:`global_row_number_arbitrary` (the lazy localCheckpoint
    there pins the sorted layout across the counts and numbering jobs;
    range partition ids are ordered, so offset + in-partition position IS
    the global rank). No window node, no single-partition exchange; only
    per-partition counts touch the driver.

    Requires ``key`` to be unique (ties straddling a range-partition
    boundary would otherwise make numbering ambiguous).

    ``known_count`` (any cheap UPPER BOUND on ``df``'s rows, e.g. the
    pre-anti-join base-table count in refine_index) dispatches inputs below
    ``_SMALL_SORT_ROWS`` to an honest one-task sort —
    ``repartitionByRange(1, key)`` (a single exchange; upstream scan/joins
    stay parallel, unlike a narrow coalesce which would serialize them, and
    unlike round-robin repartition it skips the defensive
    sortBeforeRepartition local sort of every input partition — measured
    1.3 s vs 1.4-2.7 s at 512k rows) + local sort +
    monotonically_increasing_id (0..n-1 on the single partition) — which
    beats the multi-job distributed path at probe scale (the components.py
    measured-size-dispatch pattern, and no WindowExec move-all-data warning
    in run logs).
    """
    if known_count is not None and known_count <= _SMALL_SORT_ROWS:
        return (
            df.repartitionByRange(1, key)
            .sortWithinPartitions(key)
            .withColumn(out_col, F.monotonically_increasing_id().cast("long"))
        )
    return global_row_number_arbitrary(df.orderBy(key), out_col=out_col)


def global_row_number_arbitrary(
    df: DataFrame, out_col: str = "rn"
) -> DataFrame:
    """0-based global row number in an ARBITRARY but internally consistent
    order (positional-append semantics: the caller needs unique dense
    numbers, not any particular ordering) — no single-partition window.

    The input is pinned with a lazy localCheckpoint so its partition layout
    is frozen across the two jobs (per-partition counts, then numbering) —
    without the pin a shuffle upstream could replay differently between
    jobs. Numbering is then map-only: offset-of-my-partition (exclusive
    prefix sums of the collected per-partition counts — ≤ #partitions
    scalars on the driver) plus my row offset within the partition,
    recovered from monotonically_increasing_id()'s documented layout
    (upper 31 bits partition id, lower 33 bits record number) — no Sort, no
    Window, no Exchange at all.
    """
    pinned = df.localCheckpoint(eager=False)
    pidded = pinned.withColumn("_gpid", F.spark_partition_id())
    counts = {
        r["_gpid"]: r["count"]
        for r in pidded.groupBy("_gpid").count().collect()
    }
    n_parts = (max(counts) + 1) if counts else 0
    offsets = _bucket_offsets(counts, n_parts)
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(p, off) for p, off in offsets.items()] or [(0, 0)],
            "_gpid int, _goff long",
        )
    )
    local = F.monotonically_increasing_id().bitwiseAND(
        F.lit(_MID_PARTITION_STRIDE - 1)
    )
    return (
        pidded.join(off_df, "_gpid")
        .withColumn(out_col, (F.col("_goff") + local).cast("long"))
        .drop("_gpid", "_goff")
    )
