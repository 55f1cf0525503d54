"""Distributed connected components — duplicate-CLUSTER extraction.

Pairwise near-dup operators (dedup.py) emit edges; corpus-level dedup needs
the transitive closure: if A~B and B~C, all three are one duplicate cluster
and a pipeline keeps exactly one representative. The reference has no such
operator (its dedup is the per-query seen-set, `QueryResultSet` dedup); this
is one of the training-data pipeline extensions the engine exists for.

Algorithm: min-label propagation with pointer jumping.
- init: label(v) = min(v, min neighbor) — one shuffle;
- per round: label(v) ← min(label(v), min over neighbors' labels) (one join
  on the edge list), then label(v) ← label(label(v)) (pointer doubling —
  one self-join). Combined, rounds needed = O(log diameter) instead of
  O(diameter).
- convergence is DETECTED (count of strictly-decreased labels == 0), not
  assumed, so the result is exact, not best-effort.

Scale notes (100 TB):
- Each round is two shuffle joins on (node, label) pairs — rows, not
  vectors; both sides shrink as labels stabilize. Duplicate clusters in web
  corpora are short-diameter (stars/cliques from LSH buckets), so rounds ≈
  3-5 in practice; pointer jumping bounds pathological chains at log d.
- `localCheckpoint` per round truncates the otherwise exponentially growing
  iterative lineage (same discipline as index/graph.py's hop loop).
- The alternative O(log n) two-phase (large-star/small-star, Kiveris et al.
  "Connected Components in MapReduce") optimizes the adversarial case —
  long chains — at 2 joins/round as well; min-propagation + jumping wins on
  the short-diameter graphs dedup actually produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = 500_000,
) -> DataFrame:
    """(node BIGINT, component BIGINT) for every node incident to an edge;
    component = the minimum node id reachable (the canonical representative).

    Observed-size dispatch (the planner discipline): the edge
    list is materialized once (localCheckpoint — every path reuses it), and
    its measured size picks the strategy:
    - ≤ local_threshold edges → driver union-find. The EDGE LIST of a dup
      graph is orders of magnitude smaller than the corpus (only docs with a
      duplicate partner appear); a few hundred thousand edges union-find in
      milliseconds where each distributed round costs whole shuffle stages.
      This collects edges, never corpus rows.
    - above → the distributed label-propagation loop; rounds = O(log
      diameter), per-round cost two shuffle joins on (node, label) rows.

    Raises if max_iter rounds don't converge — callers get exactness or an
    error, never a silently-partial closure.
    """
    # materialize the UNDIRECTED normalized edge list (a < b), not the
    # symmetrized one: half the distinct's shuffle rows and half the
    # checkpointed bytes for the same information (r13, guide §2.3 —
    # shuffle fewer bytes). The distributed loop derives the symmetric
    # view map-side from the checkpointed blocks; the local path consumes
    # (a < b) rows directly.
    und = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint()  # reused every round; cut the upstream plan
    )

    # ONE driver sync decides the dispatch AND feeds the local path: a
    # limited collect of threshold+1 rows from the checkpointed blocks
    # replaces the former count() job + full toPandas() job (each a
    # scheduler round-trip; the count's full pass was pure dispatch
    # overhead in the common small case). len ≤ threshold proves the
    # whole edge list was collected — use it directly; one extra row
    # proves it wasn't — fall to the distributed loop having moved at
    # most threshold+1 rows (r13, guide §1.2 — don't compute what you
    # throw away).
    probe = und.limit(local_threshold + 1).toPandas()
    if len(probe) <= local_threshold:
        return _local_components(und, pdf=probe)

    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))

    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("nb"))
        .select("a", F.least(F.col("a"), F.col("nb")).alias("label"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.select(F.col("a").alias("b"), "label"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # the round's STARTING label rides along as `old`: convergence is a
        # map-only filter-count at the end of the round instead of a third
        # shuffle join of new-vs-old labels
        new = labels.join(nbr_min, "a", "left").select(
            "a",
            F.col("label").alias("old"),
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        # materialize before the pointer-jump self-join: both sides of the
        # self-join read the SAME checkpointed blocks instead of executing
        # the nbr_min join subtree twice (ReuseExchange is plan-dependent;
        # the checkpoint makes the reuse unconditional)
        new = new.localCheckpoint()
        # pointer jumping: follow the current label one hop
        parent = new.select(
            F.col("a").alias("p_id"), F.col("label").alias("p_label")
        )
        new = new.join(parent, new["label"] == parent["p_id"], "left").select(
            "a",
            "old",
            F.least(
                F.col("label"), F.coalesce("p_label", F.col("label"))
            ).alias("label"),
        ).localCheckpoint()
        changed = new.filter(F.col("label") < F.col("old")).count()
        labels = new.select("a", "label")
        if changed == 0:
            return labels.select(
                F.col("a").alias("node"), F.col("label").alias("component")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def union_find(pairs) -> dict[int, int]:
    """Pure driver union-find: iterable of (a, b) int pairs → {node: root},
    root = min id of the node's component (iterative path compression,
    min-id attachment so the canonical representative is deterministic)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min id stays the root → canonical rep
    return {n: find(n) for n in parent}


def _local_components(und: DataFrame, pdf=None) -> DataFrame:
    """Driver union-find over a measured-small edge list. Input is the
    normalized (a < b) checkpointed edge table — one row per undirected
    edge (``pdf``: the already-collected pandas copy when the dispatch
    probe fetched it, saving the second collect job). The result frame is
    tagged ``_sptag_local_components`` so consumers may safely BROADCAST
    it in joins: the local dispatch proves it holds ≤ local_threshold-ish
    rows (driver-created frames have no size statistics, so without the
    tag Catalyst sort-merge-joins them — measured 5 SortMergeJoins in
    dedup_keep_best's r13 before-plan)."""
    if pdf is None:
        pdf = und.toPandas()
    comp = union_find(zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()))
    out = und.sparkSession.createDataFrame(
        list(comp.items()), "node long, component long"
    )
    out._sptag_local_components = True
    return out


def dedup_clusters(
    docs: DataFrame,
    jaccard_threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate clusters over a corpus: transitive closure of
    (exact-duplicate ∪ MinHash-LSH near-duplicate) edges.

    Returns (doc_id, cluster_rep, cluster_size) for every doc in a cluster
    of size ≥ 2; cluster_rep = min doc_id in the cluster (the doc a
    keep-one-representative pipeline retains).
    """
    from sptag_spark.functions.text import md5_hex, token_shingles
    from sptag_spark.operators.dedup import SHINGLE_N, minhash_near_dup_pairs

    # ONE corpus text pass feeds BOTH edge families (r13): the md5 the
    # exact-dup window needs rides alongside the shingle hashes in a shared
    # side table, so the exact edges no longer re-scan and re-tokenize the
    # corpus after the minhash pipeline already did (guide §6 — the second
    # scan moved the whole text payload to derive one short hash column).
    # Same spread discipline as shingle_hashes (scale-adaptive width, r14):
    # a one-file corpus is one scan task without it.
    from sptag_spark.partitioning import spread_width

    target = spread_width(docs)
    spread = docs
    if spread.rdd.getNumPartitions() < target:
        spread = spread.repartition(target)
    base = spread.select(
        F.col(id_col).alias("doc_id"),
        md5_hex(F.col(text_col)).alias("_h"),
        F.transform(
            token_shingles(F.col(text_col), SHINGLE_N),
            lambda s: F.xxhash64(s),
        ).alias("hh"),
    ).persist()
    # row-identical to dedup_exact_groups(docs): same md5 window, only the
    # scan source differs (the shared side table). The window's exchange is
    # right-sized like the map spread above (r14, guide §2.2): windows have
    # no map-side combine, so an explicit key-repartition at the derived
    # width replaces the session-default-width exchange — same rows moved,
    # `target` instead of `shuffle.partitions` sort tasks.
    ew = Window.partitionBy("_h")
    exact_edges = (
        base.select("doc_id", "_h")
        .repartition(target, "_h")
        .select(
            "doc_id",
            F.min("doc_id").over(ew).alias("group_min"),
            F.count("*").over(ew).alias("group_size"),
        )
        .filter((F.col("group_size") > 1) & (F.col("doc_id") != F.col("group_min")))
        .select(F.col("doc_id").alias("src"), F.col("group_min").alias("dst"))
    )
    # row-identical to shingle_hashes(docs): same filter + size columns
    sets = base.filter(F.size("hh") > 0).select(
        "doc_id", "hh", F.size("hh").alias("sz")
    )
    near_pairs = minhash_near_dup_pairs(
        docs, jaccard_threshold, id_col=id_col, text_col=text_col, sets=sets
    )
    from sptag_spark.resources import attach_artifacts

    near_pairs = attach_artifacts(near_pairs, [base])
    near = near_pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(exact_edges.union(near))
    # cluster_size as a window count over component: ONE exchange on the
    # (node, component) rows, where the former groupBy+join needed the
    # aggregate's exchange plus both join sides' (r13; the comp frame from
    # the local dispatch is a stats-less ExistingRDD, so that join came
    # out a SortMergeJoin)
    sizes_w = Window.partitionBy("component")
    from sptag_spark.resources import carry_artifacts

    # minhash pins its shingle side table; carry the handle so the owner's
    # release() reaches it (the components edge list was materialized by
    # connected_components' own checkpoint before this plan returns).
    # The size window's exchange is right-sized like the exact-dup window
    # above: the comp frame is node/component longs (≤ 2 rows per edge of
    # the measured-small dup graph), so `target` reduce tasks carry it.
    out = carry_artifacts(
        comp.repartition(target, "component")
        .withColumn("cluster_size", F.count("*").over(sizes_w))
        .filter(F.col("cluster_size") > 1)
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("cluster_rep"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        ),
        near_pairs,
    )
    # local-dispatch provenance survives the projection: consumers use it
    # to broadcast this frame in their joins (see _local_components)
    if getattr(comp, "_sptag_local_components", False):
        out._sptag_local_components = True
    return out
