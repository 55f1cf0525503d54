"""Posting-list construction — SPANN's SSD layer as a partitioned table.

Reference: ApproximateRNG (`src/Core/VectorIndex.cpp:847-884`, called from
`ExtraFullGraphSearcher.h:681`) searches the head index with every base
vector, keeps up to `ReplicaCount` (8) nearest heads per vector after the RNG
prune rule (`RelativeNeighborhoodGraph.h:18-35`: candidate head j, scanned in
ascending distance order, is accepted iff for every already-accepted head i,
rng_factor · d(head_i, head_j) ≥ d(v, head_j) — i.e. j is not "behind" an
accepted head), then cuts each posting to `PostingPageLimit` pages keeping the
nearest members (`ExtraFullGraphSearcher.h:747-760`).

Spark shape: one mapInPandas pass over the big table with the (small, by
SPANN's own design) heads matrix broadcast in the closure — BLAS block
distances, per-row candidate RNG prune (c×c, c=candidate_num) — then a window
rank per head for the posting cut. The kernel body is the module function
`assign_rows`, which SpannLiveIndex.add_batch also calls on the driver for
a micro-batch. Written out with partitionBy(head_id),
Parquet partition pruning replaces SPANN's SSD seek: a query that routes to
h heads reads exactly h directories.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sptag_spark.operators.knn import _as_matrix, _block_distances

REPLICA_COUNT = 8  # SPANN ReplicaCount
CANDIDATE_NUM = 32  # heads considered per vector before RNG prune
RNG_FACTOR = 1.0  # RNGFactor (ParameterDefinitionList)
POSTING_LIMIT = 1000  # members kept per posting (PostingPageLimit analog)

# Coarse-routed assignment kicks in above this head count: scoring every
# head per vector is O(N·k) distance work, and with k = Ratio·N that is
# QUADRATIC in N — a ×256 (512k-vector / 51k-head) build measured ~43 min
# with the flat scan (SCALING.md build autopsy). The reference never flat-
# scans either: ApproximateRNG SEARCHES the head index per vector
# (`VectorIndex.cpp:847-884` → SearchIndex). Routing = the same idea with
# a two-level structure: heads are grouped driver-side (balanced, size
# m ≈ k/g), each vector scores the g group centers, descends into the
# ROUTE_FANOUT nearest groups, and scores only those f·m heads.
# Measured in SCALING.md "×256 SPANN build autopsy": at 51.2k heads the
# flat scan built in 2,576 s and the routed one in 240 s. No sweep below
# that scale located a crossover, so 8192 is a gate, not a measured one;
# below it the flat scan runs unchanged.
ROUTED_MIN_HEADS = 8192
ROUTE_FANOUT = 16
#: k·g cells above which _head_top2 switches from the exact dense
#: distance matrix (O(k·g) driver RAM — 45 GB at 1M heads, measured in
#: the r11 dress rehearsal) to the blocked top-2 path (O(k))
_DENSE_ROUTING_ENTRIES = 64_000_000


def _seg_dists(Vb: np.ndarray, Hm: np.ndarray, metric: str) -> np.ndarray:
    """(b, m) distances of a row SEGMENT against one group's head slab —
    the same formulas as _block_distances, but as einsums, so the values
    are BITWISE those of a per-row gathered-slab einsum ("bd,bmd->bm", the
    test-side reference): einsum("bd,md->bm") reduces over d in the same
    order on a broadcast slab, and every other term is the same
    per-row/per-head elementwise reduction. The grouped kernel scores with
    it instead of materializing the (b, m, d) gather, which measured 79%
    of the per-probe kernel's wall time (r12)."""
    if metric == "l2":
        D = (
            (Hm * Hm).sum(-1)[None, :]
            - 2.0 * np.einsum("bd,md->bm", Vb, Hm)
            + (Vb * Vb).sum(1)[:, None]
        )
        np.maximum(D, 0.0, out=D)
        return D
    if metric == "cosine":
        Vn = Vb / np.maximum(np.linalg.norm(Vb, axis=1, keepdims=True), 1e-300)
        Hn = Hm / np.maximum(np.linalg.norm(Hm, axis=-1, keepdims=True), 1e-300)
        return 1.0 - np.einsum("bd,md->bm", Vn, Hn)
    return -np.einsum("bd,md->bm", Vb, Hm)


def _head_top2(H: np.ndarray, metric: str, fanout: int = ROUTE_FANOUT):
    """(group_centers, per-head 2 nearest group ids): the driver-side
    placement for routed assignment.

    g ≈ √(k·fanout) balances the per-vector work g + fanout·(k/g). Every
    head is placed in its 2 nearest groups UNCONDITIONALLY (the IVF
    boundary-replica trick) — no capacity cap. r12 replaced the previous
    capacity-greedy placement after the dim-100 probe caught its failure
    mode: when natural clusters outnumber groups, a popular group fills
    and the greedy DISPLACES whole clusters' heads into groups none of
    their nearby vectors ever probe — those heads end up with EMPTY
    postings (12% of heads at the probe fixture) and the vectors' true
    neighbors land in far-away postings (recall plateau at 0.77 that no
    nprobe could buy back). Unconditional placement guarantees the
    visibility invariant the kernel relies on: a vector's own nearest
    heads are always inside its probed groups (in particular every head's
    own vector reaches its own posting — pinned by test).

    Build cost: one k×g BLAS block below _DENSE_ROUTING_ENTRIES; above
    it, a blocked top-2 scan keeps driver memory O(k) (the dense block is
    O(k^1.5) — 45 GB at 1M heads, measured r11)."""
    from sptag_spark.index.heads import lloyd_kmeans

    k = len(H)
    spill = 2
    g = max(2, min(int(np.sqrt(k * fanout)), k // 2))
    gc = lloyd_kmeans(H, g, iters=5, seed=11)
    if k * g <= _DENSE_ROUTING_ENTRIES:
        D = _block_distances(H, gc, metric)  # (k, g)
        if spill < g:
            top2 = np.argpartition(D, spill - 1, axis=1)[:, :spill]
            dv = np.take_along_axis(D, top2, 1)
            o = np.argsort(dv, axis=1, kind="stable")
            top2 = np.take_along_axis(top2, o, 1)
        else:
            top2 = np.broadcast_to(np.arange(g), (k, g)).copy()
    else:
        top2 = np.empty((k, min(spill, g)), dtype=np.int64)
        block = max(1024, int(2.5e7 / max(g, 1)))
        for s in range(0, k, block):
            Db = _block_distances(H[s : s + block], gc, metric)
            if spill < g:
                idx = np.argpartition(Db, spill - 1, axis=1)[:, :spill]
                dv = np.take_along_axis(Db, idx, 1)
                o = np.argsort(dv, axis=1, kind="stable")
                top2[s : s + block] = np.take_along_axis(idx, o, 1)
            else:
                top2[s : s + block] = np.broadcast_to(
                    np.arange(g), (len(Db), g)
                )
    return gc, top2


def _head_routing_csr(
    H: np.ndarray, head_ids: np.ndarray, metric: str, fanout: int = ROUTE_FANOUT
):
    """Two-level head layout for the grouped routed kernel (r12): the
    _head_top2 placement laid out as CSR
    (group_centers (g, d), goff (g+1,), Hflat (2k, d), idsflat (2k,)) —
    group gi's heads are rows goff[gi]:goff[gi+1] of the FLAT arrays.
    Total slots are exactly 2k; a head sighted through both its groups is
    masked in the kernel after the (dist, id) sort.

    Zero padding: a rectangular (g, max group size, d) layout pads every
    group to the MAX group size, and under skew (clusters ≫ groups) that
    ballooned to a multi-GB dense array — the shipped .npy filled the
    disk at the dim-100 probe. CSR is exactly 2k rows whatever the skew.
    Within each group, heads keep ascending head-index order, so
    candidate values and tie shapes are a pure function of the
    placement."""
    gc, top2 = _head_top2(H, metric, fanout)
    g = len(gc)
    k = len(H)
    flat_g = top2.ravel()
    # stable sort by group keeps ascending head order within each group
    o = np.argsort(flat_g, kind="stable")
    rows = np.repeat(np.arange(k), top2.shape[1])[o]
    counts = np.bincount(flat_g, minlength=g)
    goff = np.concatenate(([0], np.cumsum(counts)))
    return gc, goff, H[rows], head_ids[rows]


#: payload size above which head/routing arrays ship as memmapped files
#: instead of a pickled Broadcast (see _ship_arrays)
_BC_MMAP_MIN_BYTES = 64 << 20

#: staged-payload reuse (r12 ADVICE: every large assign_replicas staged
#: a fresh mkdtemp of multi-GB .npy copies and never removed them).
#: Content-keyed cache: a repeated build over the same payload (rebuild
#: loops, probe reruns) reuses the already-added files. Each staging dir
#: lives as long as its SparkContext (resources.private_dir): tasks fetch
#: every addFile'd path lazily and there is no removeFile, so the files
#: cannot go any earlier.
_SHIPPED_CACHE: dict[tuple, dict] = {}


def _arrays_content_key(app_id: str, arrays: dict) -> tuple:
    """Exact content identity of a payload (blake2b over raw bytes +
    dtype/shape), scoped to the SparkContext that holds the addFile
    registry. ~1 GB/s — cheaper than re-staging the same gigabytes."""
    import hashlib

    h = hashlib.blake2b(digest_size=16)
    for k in sorted(arrays):
        a = arrays[k]
        h.update(k.encode())
        if a is None:
            h.update(b"\x00none")
            continue
        a = np.ascontiguousarray(a)
        h.update(str((a.dtype.str, a.shape)).encode())
        h.update(memoryview(a).cast("B"))
    return (app_id, h.hexdigest())


def _ship_arrays(spark, arrays: dict):
    """Ship large READ-ONLY numpy payloads to Python workers via
    addFile + np.load(mmap_mode="r") instead of a pickled Broadcast.

    A pickled broadcast is unpickled PER PYTHON WORKER — local[32] holds
    32 private copies, and at the dim-100 probe the ~2 GB routing payload
    × 32 workers OOM-killed the node (r12, twice). An addFile'd .npy is
    fetched once per NODE and memmapped by every worker off the shared
    page cache: one physical copy however many cores. Below
    _BC_MMAP_MIN_BYTES the plain broadcast stays (no file churn for the
    small-head regime). The staged .npy files live for the SparkContext
    (tasks fetch every addFile'd path lazily; no removeFile exists) and
    are removed with it; identical payloads reuse the cache instead of
    re-staging (r12 ADVICE). → a Broadcast whose value _load_arrays
    decodes."""
    total = sum(a.nbytes for a in arrays.values() if a is not None)
    if total < _BC_MMAP_MIN_BYTES:
        return spark.sparkContext.broadcast(arrays)
    import os
    import uuid

    from sptag_spark.resources import private_dir

    key = _arrays_content_key(spark.sparkContext.applicationId, arrays)
    if key in _SHIPPED_CACHE:
        return spark.sparkContext.broadcast(
            {"__files__": _SHIPPED_CACHE[key]}
        )
    d = private_dir(spark.sparkContext, "sptag_bc_")
    tag = uuid.uuid4().hex[:8]
    names: dict = {}
    for k, a in arrays.items():
        if a is None:
            names[k] = None
            continue
        fn = f"sptag_{tag}_{k}.npy"
        np.save(os.path.join(d, fn), a)
        spark.sparkContext.addFile(os.path.join(d, fn))
        names[k] = fn
    _SHIPPED_CACHE[key] = names
    return spark.sparkContext.broadcast({"__files__": names})


def _load_arrays(value) -> dict:
    """Worker-side twin of _ship_arrays."""
    if "__files__" not in value:
        return value
    from pyspark import SparkFiles

    return {
        k: (None if fn is None else np.load(SparkFiles.get(fn), mmap_mode="r"))
        for k, fn in value["__files__"].items()
    }


def _prune_block(
    cand: np.ndarray,
    d_c: np.ndarray,
    head_ids: np.ndarray,
    H: np.ndarray,
    HH: np.ndarray | None,
    metric: str,
    replica_count: int,
    rng_factor: float,
    routed: bool,
):
    """Shared tail of the assignment kernel: per-row (dist, head_id)
    ascending sort, spilled-duplicate mask (routed mode), candidate
    head-head distances, and the vectorized greedy RNG prune.
    → (h2 (b,c) head ids in rank order, d2 (b,c) dists, acc (b,c) accept
    mask). Identical arithmetic for every caller — the flat path and the
    grouped routed path differ only in how (cand, d_c) were produced."""
    # per-row (dist, head_id) ascending order — two STABLE argsorts ≡
    # np.lexsort((head_ids, dist)) rowwise
    hid_c = head_ids[cand]
    o1 = np.argsort(hid_c, axis=1, kind="stable")
    d1 = np.take_along_axis(d_c, o1, 1)
    c1 = np.take_along_axis(cand, o1, 1)
    o2 = np.argsort(d1, axis=1, kind="stable")
    d2 = np.take_along_axis(d1, o2, 1)
    c2 = np.take_along_axis(c1, o2, 1)
    h2 = head_ids[c2]
    b = len(cand)
    # routed mode spills heads into 2 groups, so the same head can be
    # sighted twice; duplicates carry identical (dist, head_id), hence
    # are ADJACENT after the sort
    dup = np.zeros(d2.shape, dtype=bool)
    if routed:
        dup[:, 1:] = (h2[:, 1:] == h2[:, :-1]) & (d2[:, 1:] == d2[:, :-1])
    # (b, c, c) candidate head-head distances
    if HH is not None:
        hh = HH[c2[:, :, None], c2[:, None, :]]
    else:
        G = H[c2]  # (b, c, d)
        if metric == "l2":
            sq = (G * G).sum(-1)
            hh = (
                sq[:, :, None]
                + sq[:, None, :]
                - 2.0 * np.einsum("bid,bjd->bij", G, G)
            )
            np.maximum(hh, 0.0, out=hh)
        elif metric == "cosine":
            Gn = G / np.maximum(
                np.linalg.norm(G, axis=-1, keepdims=True), 1e-300
            )
            hh = 1.0 - np.einsum("bid,bjd->bij", Gn, Gn)
            np.maximum(hh, 0.0, out=hh)
        else:  # ip
            hh = -np.einsum("bid,bjd->bij", G, G)
    # greedy RNG prune, vectorized over rows: candidate j (in ascending
    # (dist, id) order) is accepted iff no already-accepted i has
    # rng·d(head_i, head_j) < d(v, head_j) and the replica budget is open
    # — identical to the sequential early-exit loop, iterated j=0..c-1
    # across all rows at once
    n_c = d2.shape[1]
    acc = np.zeros((b, n_c), dtype=bool)
    acc_cnt = np.zeros(b, dtype=np.int64)
    # padded inf-dist slots (routed mode) flow through the violation
    # arithmetic by design and can produce non-finite intermediates
    # (inf*0 in the broadcast multiply); the isfinite/dup guards below
    # exclude those slots from acceptance, so the warning is noise —
    # scope it out rather than paying a per-slot pre-mask (r12 nit class)
    with np.errstate(invalid="ignore"):
        for j in range(n_c):
            viol = acc & (rng_factor * hh[:, :, j] < d2[:, j][:, None])
            # isfinite: routed mode pads short groups with inf-dist slots;
            # dup: second sighting of a spilled head — neither may be
            # accepted as a head
            ok = (
                ~viol.any(axis=1)
                & (acc_cnt < replica_count)
                & np.isfinite(d2[:, j])
                & ~dup[:, j]
            )
            acc[:, j] = ok
            acc_cnt += ok
    return h2, d2, acc


#: the (head_id, id, vector, dist) posting rows assign_replicas and
#: SpannLiveIndex.add_batch produce
POSTINGS_SCHEMA = "head_id long, id long, vector array<float>, dist double"


def assign_arrays(
    heads: DataFrame,
    metric: str = "l2",
    routed: bool | None = None,
    candidate_num: int = CANDIDATE_NUM,
) -> dict:
    """The head arrays `assign_rows` reads: ``head_ids`` and ``H`` (the
    CSR slot arrays in routed mode), the full head-head block ``HH``
    while it is small, and the routing ``gc_csr``/``goff`` (None when
    flat). A pure function of the immutable head matrix, the metric and
    the mode, so it is computed once per heads-frame OBJECT and
    remembered on it, as `index.ann.head_matrix` is (r13: a live index
    streaming micro-batches paid the head collect on EVERY add_batch).

    ``routed`` (default auto: head count ≥ ROUTED_MIN_HEADS) selects the
    two-level CSR layout (r12): flat (2k, d) slot arrays, zero padding.
    Head-head distances are precomputed as the full h×h block only while
    it is small; past that it is O(h²) memory (impossible at ≥1M heads)
    and the RNG prune only ever reads the c×c candidate block, which is
    cheap to compute per row from H directly."""
    from sptag_spark.index.ann import head_matrix

    head_ids, H = head_matrix(heads)
    if routed is None:
        routed = len(head_ids) >= ROUTED_MIN_HEADS
    csr = bool(routed and candidate_num < len(head_ids))
    cached = getattr(heads, "_sptag_assign_arrays", None)
    if cached is not None and cached[0] == (metric, csr):
        return cached[1]
    gc_csr = goff = None
    if csr:
        gc_csr, goff, H, head_ids = _head_routing_csr(H, head_ids, metric)
    HH = (
        _block_distances(H, H, metric)
        if not csr and len(head_ids) <= 4096
        else None
    )
    arrs = {"head_ids": head_ids, "H": H, "HH": HH, "gc_csr": gc_csr,
            "goff": goff}
    try:
        heads._sptag_assign_arrays = ((metric, csr), arrs)
    except Exception:  # noqa: BLE001 — cache is best-effort
        pass
    return arrs


def assign_rows(
    V: np.ndarray,
    arrs: dict,
    metric: str = "l2",
    replica_count: int = REPLICA_COUNT,
    candidate_num: int = CANDIDATE_NUM,
    rng_factor: float = RNG_FACTOR,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Replica assignment of the rows of ``V`` ((n, d) float64) against
    the head arrays ``arrs`` (`assign_arrays`, or their shipped copy):
    → (row index into V, head_id, dist), one entry per accepted replica.
    assign_replicas' executor kernel and SpannLiveIndex.add_batch's
    driver call both run this, so the two cannot drift.

    The assignment is fully VECTORIZED across rows — a per-row Python
    loop (argpartition + lexsort + c×c gather per vector) measured 128k
    interpreter iterations per ×64 build and dominated wall time. Rows
    are processed in bounded sub-blocks so the (b, c, c) head-head and
    (b, c, d) gather temporaries stay tens of MB."""
    head_ids, H, HH = arrs["head_ids"], arrs["H"], arrs["HH"]
    c = min(candidate_num, len(head_ids))
    n = len(V)
    out_r: list[np.ndarray] = []
    out_h: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    SUB = 512

    if arrs["gc_csr"] is not None:
        # GROUPED routed path (r12 — a per-probe einsum over a
        # (b, m, d) gathered slab measured 79% of kernel wall at
        # 100k heads, dominated by the gather's memory traffic).
        # Two passes:
        #   A. route every row to its f nearest groups in 512-row
        #      input-order subblocks, keeping only topf (n, f);
        #   B. sort rows by nearest group, then score each
        #      DISTINCT group once per subblock with a segment
        #      einsum (_seg_dists) over the CSR slot arrays —
        #      BITWISE the per-probe gather's candidate values (no
        #      (b, m, d) gather ever materializes), per-group
        #      local top-c pooled into the per-row top-c (the
        #      global top-c is a subset of every group's local
        #      top-c, so the candidate SET matches a rectangular
        #      per-probe selection up to exact ties between
        #      duplicate spilled sightings — equivalent rows
        #      after the prune; pinned against a test-side
        #      rectangular reference).
        gc_, goff = arrs["gc_csr"], np.asarray(arrs["goff"])
        g = len(goff) - 1
        f = min(ROUTE_FANOUT, g)
        topf_all = np.empty((n, f), dtype=np.int64)
        for s in range(0, n, SUB):
            Vb = V[s : s + SUB]
            b = len(Vb)
            Dg = _block_distances(Vb, gc_, metric)  # (b, g)
            topf_all[s : s + b] = (
                np.argpartition(Dg, f - 1, axis=1)[:, :f]
                if f < g
                else np.broadcast_to(np.arange(g), (b, g))
            )
        order = np.argsort(topf_all[:, 0], kind="stable")
        for s in range(0, n, SUB):
            rsel = order[s : s + SUB]
            Vb = V[rsel]
            b = len(rsel)
            tb = topf_all[rsel]  # (b, f)
            nf = tb.shape[1]
            flat_g = tb.ravel()
            o = np.argsort(flat_g, kind="stable")
            fg = flat_g[o]
            rr = np.repeat(np.arange(b), nf)[o]
            bnd = np.nonzero(fg[1:] != fg[:-1])[0] + 1
            pr: list[np.ndarray] = []
            pdi: list[np.ndarray] = []
            pi: list[np.ndarray] = []
            for s0, e0 in zip(
                np.concatenate(([0], bnd)),
                np.concatenate((bnd, [len(fg)])),
            ):
                gi = int(fg[s0])
                lo, hi = int(goff[gi]), int(goff[gi + 1])
                if hi == lo:
                    continue
                rs = rr[s0:e0]
                Dsub = _seg_dists(Vb[rs], H[lo:hi], metric)
                cc_i = min(c, hi - lo)
                if cc_i < hi - lo:
                    seli = np.argpartition(Dsub, cc_i - 1, axis=1)[:, :cc_i]
                    dsel = np.take_along_axis(Dsub, seli, 1)
                else:
                    seli = np.broadcast_to(np.arange(hi - lo), Dsub.shape)
                    dsel = Dsub
                pr.append(np.repeat(rs, seli.shape[1]))
                pdi.append(dsel.ravel())
                pi.append((lo + seli).ravel())
            if not pr:
                continue
            ar = np.concatenate(pr)
            ad = np.concatenate(pdi)
            ai = np.concatenate(pi)
            # per-row top-c over the pooled candidates; ties at
            # the boundary break by flat slot (deterministic)
            o2 = np.lexsort((ai, ad, ar))
            ar, ad, ai = ar[o2], ad[o2], ai[o2]
            first = np.ones(len(ar), dtype=bool)
            first[1:] = ar[1:] != ar[:-1]
            starts_idx = np.nonzero(first)[0]
            seg_len = np.diff(np.append(starts_idx, len(ar)))
            pos = np.arange(len(ar)) - np.repeat(starts_idx, seg_len)
            keepm = pos < c
            cand = np.zeros((b, c), dtype=np.int64)
            d_c = np.full((b, c), np.inf)
            cand[ar[keepm], pos[keepm]] = ai[keepm]
            d_c[ar[keepm], pos[keepm]] = ad[keepm]
            h2, d2, acc = _prune_block(
                cand, d_c, head_ids, H, HH, metric,
                replica_count, rng_factor, routed=True,
            )
            rows, cols = np.nonzero(acc)
            out_r.append(rsel[rows])
            out_h.append(h2[rows, cols])
            out_d.append(d2[rows, cols])
    else:
        for s in range(0, n, SUB):
            Vb = V[s : s + SUB]
            b = len(Vb)
            D = _block_distances(Vb, H, metric)  # (b, h)
            if c < len(head_ids):
                cand = np.argpartition(D, c - 1, axis=1)[:, :c]
            else:
                cand = np.broadcast_to(
                    np.arange(len(head_ids)), (b, len(head_ids))
                ).copy()
            d_c = np.take_along_axis(D, cand, 1)
            h2, d2, acc = _prune_block(
                cand, d_c, head_ids, H, HH, metric,
                replica_count, rng_factor, routed=False,
            )
            rows, cols = np.nonzero(acc)
            out_r.append(s + rows)
            out_h.append(h2[rows, cols])
            out_d.append(d2[rows, cols])
    if not out_r:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.float64))
    return np.concatenate(out_r), np.concatenate(out_h), np.concatenate(out_d)


def assign_replicas(
    vectors: DataFrame,
    heads: DataFrame,
    metric: str = "l2",
    replica_count: int = REPLICA_COUNT,
    candidate_num: int = CANDIDATE_NUM,
    rng_factor: float = RNG_FACTOR,
    routed: bool | None = None,
) -> DataFrame:
    """(head_id, id, vector, dist): every vector assigned to 1..replica_count
    heads. Head vectors ride along so postings are self-contained, like
    SPANN's posting records `(vid, vector)` (`ExtraFullGraphSearcher.h:60-110`).

    The executor path for the bulk builds (build_postings, ivf, graph):
    one mapInPandas pass whose kernel runs `assign_rows` per Arrow batch.
    A micro-batch small enough to collect (SpannLiveIndex.add_batch) runs
    the same `assign_rows` on the driver instead.

    ``routed`` (default auto: head count ≥ ROUTED_MIN_HEADS): candidate
    heads come from the ROUTE_FANOUT nearest head GROUPS instead of a flat
    scan of every head — O(√(k·f) + f·k/√(k·f)) per vector instead of O(k),
    the same approximate-search-the-heads idea as the reference's
    ApproximateRNG. Below the gate the flat scan runs and results are
    byte-identical to before. Routing is approximate in the same way the
    reference's is: a candidate outside the f nearest groups is invisible,
    which can only LOSE a far replica, never corrupt a near one (recall
    re-measured at the build scale that motivated it — SCALING.md)."""
    arrs = assign_arrays(heads, metric, routed, candidate_num)
    # Heads ride a BROADCAST variable, not the task closure: the head set is
    # ~0.1·N (tens of GB at billion scale — the same per-node footprint the
    # reference's in-memory head index has), and a closure re-ships it with
    # every task while a broadcast lands once per executor. Big payloads
    # ship as memmapped files (one physical copy per node), small ones as a
    # plain broadcast — see _ship_arrays
    bc = _ship_arrays(vectors.sparkSession, arrs)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        arrs = _load_arrays(bc.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows, hid, dist = assign_rows(
                _as_matrix(pdf["vector"]), arrs, metric, replica_count,
                candidate_num, rng_factor,
            )
            if len(rows) == 0:
                continue
            # object array of float32 numpy cells — gathered (not boxed
            # into Python lists) for the output column; Arrow serializes
            # the numeric arrays directly
            yield pd.DataFrame(
                {
                    "head_id": hid,
                    "id": pdf["id"].to_numpy(dtype=np.int64)[rows],
                    "vector": pdf["vector"].to_numpy()[rows],
                    "dist": dist,
                }
            )

    src = vectors.select("id", "vector")
    # The assignment kernel is CPU-bound (N×h BLAS block per row-batch), so
    # its parallelism is the INPUT partition count — and a compact parquet
    # (tens of MB per 100k vectors) arrives as one or two
    # maxPartitionBytes-sized splits, serializing the whole build on one
    # core (measured 85 s → 7 s on a 128k×15k-head build). A real 100 TB
    # table has orders of magnitude more splits than cores and skips this.
    par = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    return src.mapInPandas(kernel, schema=POSTINGS_SCHEMA)


def cut_postings(postings: DataFrame, limit: int = POSTING_LIMIT) -> DataFrame:
    """Posting truncation: keep the `limit` nearest members per head
    (`ExtraFullGraphSearcher.h:747-760`) — but never a vector's LAST
    replica. Plain truncation can orphan a vector outright (every one of
    its replicas past some cap), leaving it unreachable at ANY nprobe —
    measured at the r12 dim-100 probe: 78k of 2.1M vectors orphaned, a
    hard recall ceiling no search parameter can buy back. The reference
    leans on balanced closure clustering keeping posting sizes under the
    cap and truncates hard when it binds; here, when the cap does bind,
    each vector's PRIMARY replica (rank-1 by (dist, head_id)) survives
    past the limit, so coverage is total. A posting can exceed `limit`
    by its primary count only (documented divergence — safety over a
    strict page budget). When no posting exceeds `limit`, the output is
    the reference's plain truncation."""
    w = Window.partitionBy("head_id").orderBy(F.col("dist"), F.col("id"))
    wp = Window.partitionBy("id").orderBy(F.col("dist"), F.col("head_id"))
    out = (
        postings.withColumn("_rn", F.row_number().over(w))
        .withColumn("_pr", F.row_number().over(wp))
        .filter((F.col("_rn") <= limit) | (F.col("_pr") == 1))
    )
    return out.drop("_rn", "_pr")


def build_postings(
    vectors: DataFrame,
    heads: DataFrame,
    metric: str = "l2",
    replica_count: int = REPLICA_COUNT,
    posting_limit: int = POSTING_LIMIT,
) -> DataFrame:
    return cut_postings(
        assign_replicas(vectors, heads, metric, replica_count), posting_limit
    )


def write_postings(postings: DataFrame, path: str) -> None:
    """Persist partitioned by head_id with zstd — the Parquet translation of
    SPANN's page-aligned, optionally-zstd posting files (`Options.h:82-88`).
    Partition pruning on head_id is the SSD seek.

    Repartition by head_id before the partitioned write (guide §6 output
    sizing): without it every upstream shuffle partition sprays a fragment
    file into every head directory it touches — measured 8 files per head
    (480 files for a 4 MB store) at sf0.1, and every subsequent full scan
    of the store paid the per-file open cost 8× over. One task per head →
    one file per head posting list, exactly the reference's one-posting-
    one-extent layout; oversized heads are split by maxRecordsPerFile
    rather than fragmented by accident."""
    (
        postings.repartition("head_id")
        .write.mode("overwrite")
        .partitionBy("head_id")
        .option("compression", "zstd")
        .option("maxRecordsPerFile", 1 << 20)
        .parquet(path)
    )


def posting_stats(postings: DataFrame) -> DataFrame:
    """Posting-size histogram (`ExtraFullGraphSearcher.h:628-760` prints the
    same): (head_id, n_members, avg_dist)."""
    return postings.groupBy("head_id").agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("dist"), 4).alias("avg_dist"),
    )


def replica_stats(postings: DataFrame) -> DataFrame:
    """Replica-count distribution: how many heads each vector landed in."""
    per_vec = postings.groupBy("id").agg(F.count("*").alias("n_replicas"))
    return per_vec.groupBy("n_replicas").agg(F.count("*").alias("n_vectors"))
