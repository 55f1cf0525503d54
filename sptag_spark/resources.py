"""Lifecycle handles for persisted index artifacts.

Index builds persist intermediates that the RETURNED plan still references
lazily (the hierarchical balanced-k-means coarse assignment, a SPANN
structure's live/heads/postings trio). The build function cannot unpersist
them — the caller hasn't executed the plan yet — so without a handle they
stay pinned in executor storage for the SparkContext's lifetime. On a
long-lived session (a serving driver, a notebook, the bench loop) that is a
slow storage leak the reference never has: its index owns its memory and
frees it on close (`AnnService/inc/Core/VectorIndex.h` lifecycle).

The pattern: builders attach their persisted intermediates to the result
DataFrame (``attach_artifacts``); whoever ultimately owns the result calls
``release(df)`` once the plan's outputs are materialized (written, collected,
or re-persisted themselves). Releasing is always SAFE for correctness —
unpersisting only drops the cached copy; a late re-execution recomputes from
lineage — so the worst case of releasing too early is wasted recompute, never
wrong results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def attach_artifacts(result: DataFrame, persisted: list[DataFrame]) -> DataFrame:
    """Record persisted intermediates the lazy ``result`` plan depends on,
    so the eventual owner can ``release`` them. Appends to any already
    attached (builders compose)."""
    existing = list(getattr(result, "_sptag_artifacts", []))
    result._sptag_artifacts = existing + list(persisted)
    return result


def carry_artifacts(dst: DataFrame, src: DataFrame) -> DataFrame:
    """Propagate ``src``'s attached artifacts onto ``dst``. Needed because
    the attachment is a Python attribute: every DataFrame TRANSFORMATION
    returns a new object without it, so a builder that derives its result
    from an artifact-carrying frame must re-attach explicitly or the
    handle (and the leak fix) is silently lost."""
    return attach_artifacts(dst, getattr(src, "_sptag_artifacts", []))


def release(df: DataFrame, include_self: bool = True) -> None:
    """Unpersist every intermediate attached to ``df``, then ``df`` itself
    (a no-op when not persisted). ``include_self=False`` drops only the
    attached intermediates — for an owner that has just persisted and
    materialized ``df`` and wants to keep THAT cache while releasing the
    build-time frames behind it. Idempotent."""
    for a in getattr(df, "_sptag_artifacts", []):
        try:
            a.unpersist()
        except Exception:  # noqa: BLE001 - context may already be stopped
            pass
    df._sptag_artifacts = []
    if not include_self:
        return
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001
        pass


def persisted_rdd_count(spark) -> int:
    """Number of RDDs currently pinned in storage — the leak gauge (a
    cached DataFrame registers its RDD here once materialized)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs currently pinned. Leak tests on a SHARED session
    diff id-sets instead of counts: the async ContextCleaner may reap an
    unreferenced cached RDD from an earlier test at any moment, so a raw
    before/after count comparison is racy while 'none of MY new ids
    survive release' is not."""
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next()))
    return ids


def private_dir(owner, prefix: str) -> str:
    """A new temporary directory that lives exactly as long as ``owner``:
    it is removed when ``owner`` is garbage-collected, or at interpreter
    exit if ``owner`` is still alive then (``weakref.finalize`` runs its
    pending callbacks at exit). For stores an object packs for itself
    and nobody else opens."""
    import shutil
    import tempfile
    import weakref

    d = tempfile.mkdtemp(prefix=prefix)
    weakref.finalize(owner, shutil.rmtree, d, ignore_errors=True)
    return d
