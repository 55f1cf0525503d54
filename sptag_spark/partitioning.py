"""Scale-adaptive spread widths for compute-heavy map stages.

Several text operators re-spread a small input before a CPU-heavy map pass
(shingle+hash, span extract): a corpus that arrives as one file is one scan
split, and the per-row work would run on a single core. The r13 shape spread
to ``defaultParallelism`` unconditionally — right at cluster scale (the
guard makes it a no-op there: any real deployment arrives with >= cores
splits), but at bench scale it manufactures near-empty tasks: 32 tasks x a
few hundred rows each pay more per-task fixed cost (scheduling, codegen,
shuffle write/read of the exchange itself) than the map work they carry.
Measured r14 at sf0.1 / 32 cores, the whole dedup family's 8-core/32-core
scaling ratios sat at 0.3-0.7 — MORE cores made the queries SLOWER — which
is the guide §2.2 small-block pathology, not compute.

``spread_width`` sizes the spread from the INPUT instead of the session:
Catalyst's size estimate for the frame (driver-only, no job) divided by a
target bytes-per-task, capped at the session's parallelism. At warehouse
scale the estimate dwarfs the cap, so the width still equals
``defaultParallelism`` — behavior there is unchanged; at bench scale a
~750 KB corpus gets ceil(750K/192K) = 4 tasks whose per-task work amortizes
their fixed cost. This is exactly the sizing AQE's partition coalescing
applies to shuffle reads (guide §2.2), applied to the one exchange AQE
cannot see (the bench runs AQE off; the spread feeds a map stage, not a
shuffle read).

The 192 KB default is empirical at bench scale (r14: widths 2/3/6/32 probed
on minhash_near_dup / dedup_clusters / duplicate_spans; 3-6 tasks are
within noise of each other, 32 costs ~15-25%% extra wall) and deliberately
conservative — heavy-regex map work saturates a core at a few hundred KB of
text. A caller that knows better passes ``bytes_per_task``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sptag_spark.resources import carry_artifacts

SPREAD_BYTES_PER_TASK = 192 * 1024


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame — file bytes at the scans,
    propagated through the operators above them. Driver-only (no job);
    coarse (filters don't shrink it without CBO stats), which is fine for
    sizing a spread: overestimates only round the width up."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


#: rows per serve-scan task for cached numeric-kernel frames (r14, see
#: right_size_cached for the measured pathologies it fixes)
KERNEL_ROWS_PER_TASK = 256


def right_size_cached(
    df: DataFrame, n_rows: int, key_col: str | None = None
) -> DataFrame:
    """Right-size a to-be-persisted numeric-kernel frame (codes / coded
    lists / IVF lists) ONCE at index build, so every serve run's
    mapInPandas scan reads sensibly-filled Arrow batches instead of the
    accident of the upstream layout (guide §2.2 / §6).

    Measured r14 pathologies at sf0.1/32 cores: SQ codes arrived as ONE
    parquet split (the whole scan kernel ran serially) while IVF-PQ coded
    lists arrived as 32 near-empty splits (each serve task paid the
    ~20-30 ms Arrow+scheduling floor for ~100 rows, and each rebuilt the
    per-(query, list) LUTs its slice touched). Target
    ceil(rows / KERNEL_ROWS_PER_TASK) partitions, capped at the session
    parallelism; widen a too-narrow frame always, but SHRINK only when the
    whole frame is small enough that even parallelism-wide tasks run
    underfull (rows <= rows_per_task x parallelism) — a warehouse-scale
    frame whose scan splits each carry millions of rows is left exactly as
    the scan/AQE laid it out. ``key_col`` clusters by that column (for
    routed serves: a head's rows colocate, so per-(query, head) LUTs build
    once, probed 1.53 -> 1.34 s on ivf_pq_search) — but only when the
    partition count changes: a frame already at the target width is
    returned as it is, NOT clustered by ``key_col``. Row-set unchanged —
    only the layout moves, once, at build."""
    spark = df.sparkSession
    cap = spark.sparkContext.defaultParallelism
    want = max(1, min(-(-n_rows // KERNEL_ROWS_PER_TASK), cap))
    cur = df.rdd.getNumPartitions()
    if cur < want or (
        cur > want and n_rows <= KERNEL_ROWS_PER_TASK * cap
    ):
        return (
            df.repartition(want, key_col) if key_col else df.repartition(want)
        )
    return df


def persist_sized(
    df: DataFrame, key_col: str | None = None
) -> tuple[DataFrame, int]:
    """Persist + materialize ``df``, then re-layout the CACHE at the
    right-sized width (reading from the cache, so the build plan runs
    once). Returns (frame, row count). No-op beyond the persist when the
    layout is already right. A resized frame keeps ``df``'s attached
    build artifacts, so the owner can still ``release`` them."""
    df = df.persist()
    n = df.count()
    sized = right_size_cached(df, n, key_col)
    if sized is not df:
        sized = sized.persist()
        sized.count()
        df.unpersist()
        return carry_artifacts(sized, df), n
    return df, n


def spread_width(
    df: DataFrame, bytes_per_task: int | None = None
) -> int:
    """Partition count for a compute-spread ``repartition`` of ``df``:
    ceil(estimated input bytes / bytes_per_task), clamped to
    [1, defaultParallelism]. Scale-adaptive per guide §2: big inputs hit
    the parallelism cap (cluster behavior unchanged), small inputs get
    tasks big enough to amortize their fixed cost."""
    if bytes_per_task is None:
        bytes_per_task = SPREAD_BYTES_PER_TASK
    cap = df.sparkSession.sparkContext.defaultParallelism
    width = -(-plan_size_bytes(df) // max(bytes_per_task, 1))
    return max(1, min(width, cap))
